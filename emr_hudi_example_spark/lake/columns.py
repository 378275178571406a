"""The engine's meta columns — its analog of the ``_hoodie_*`` columns
the reference reads (``SRC/ODS2DWD.scala:34``) and strips
(``SRC/package.scala:166-168``)."""

COMMIT_TIME_COL = "_commit_time"
RECORD_KEY_COL = "_record_key"
PARTITION_PATH_COL = "_partition_path"
#: MOR tombstone marker (delete delta records); never present in COW files
DELETED_COL = "_deleted"
META_COLS = [COMMIT_TIME_COL, RECORD_KEY_COL, PARTITION_PATH_COL]
