"""Scalar/text/similarity function families (dedup, ANN, text analysis)."""
