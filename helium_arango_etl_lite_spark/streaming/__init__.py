from .sink import (
    RETENTION_BLOCKS,
    apply_retention,
    idempotent_append,
    with_block_bucket,
)
from .follow import process_batch, sync_state
from .rollup import continuous_rollup, merge_rollup
from .stateful import running_totals
from .windows import (
    dedup_within_watermark,
    windowed_activity,
)

__all__ = [
    "running_totals",
    "dedup_within_watermark",
    "windowed_activity",
    "RETENTION_BLOCKS",
    "apply_retention",
    "idempotent_append",
    "with_block_bucket",
    "process_batch",
    "sync_state",
]
