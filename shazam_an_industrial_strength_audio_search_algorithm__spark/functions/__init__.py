"""Scalar/vectorized functions: tokenizer, BM25 math."""
