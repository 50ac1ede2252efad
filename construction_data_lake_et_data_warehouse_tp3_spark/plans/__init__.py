from .analysis import (  # noqa: F401
    explain_str,
    has_broadcast_join,
    has_partition_filters,
    pushed_filters,
    scan_read_schema,
    shuffle_exchange_count,
    wholestage_codegen_spans,
    without_embeddings_spread,
)
