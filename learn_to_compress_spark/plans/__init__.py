from .checks import (
    explain_text,
    kernel_partitions,
    pushed_filters,
    scan_read_schema,
    shuffle_exchanges,
    wholestage_codegen_spans,
)

__all__ = [
    "explain_text",
    "kernel_partitions",
    "pushed_filters",
    "scan_read_schema",
    "shuffle_exchanges",
    "wholestage_codegen_spans",
]
