"""Lakehouse kernel: keyed upsert / delete / insert over partitioned
parquet with a commit timeline (snapshot + incremental reads)."""

from emr_hudi_example_spark.lake.compactor import AsyncCompactor
from emr_hudi_example_spark.lake.locks import (
    ConditionalPutLockProvider,
    FileLockProvider,
    LeaseLockProvider,
    LocalFSStore,
    MemoryStore,
    PutIfAbsentStore,
    S3ConditionalPutStore,
    LockContention,
    LockFenced,
    LockProvider,
    retry_on_contention,
)
from emr_hudi_example_spark.lake.prune import ScanReport
from emr_hudi_example_spark.lake.table import (
    COMMIT_TIME_COL,
    ConcurrentWriteConflict,
    DELETED_COL,
    META_COLS,
    PARTITION_PATH_COL,
    RECORD_KEY_COL,
    LakeTable,
    TableNotFound,
    reference_table_type,
)

__all__ = [
    "AsyncCompactor",
    "ConditionalPutLockProvider",
    "FileLockProvider",
    "LeaseLockProvider",
    "LocalFSStore",
    "MemoryStore",
    "PutIfAbsentStore",
    "S3ConditionalPutStore",
    "LockContention",
    "LockFenced",
    "LockProvider",
    "retry_on_contention",
    "ConcurrentWriteConflict",
    "LakeTable",
    "ScanReport",
    "TableNotFound",
    "META_COLS",
    "COMMIT_TIME_COL",
    "RECORD_KEY_COL",
    "PARTITION_PATH_COL",
    "DELETED_COL",
    "reference_table_type",
]
