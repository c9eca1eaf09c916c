"""Spark pipeline layer: the vectorized extraction kernel (field rules
included), review-override join, IcebergLike table commits, metrics."""
