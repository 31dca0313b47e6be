"""Sketch and filter kinds. Importing the package registers every
membership kind's FilterKind spec in ``base.FILTER_KINDS``."""

from prefix_filter_spark.sketches import (  # noqa: F401
    blocked_bloom,
    bfuse,
    bloom,
    cuckoo,
    prefix_filter,
    quotient,
    retrieval,
    ribbon,
    two_choice,
    xor,
)
