from .fileio import FileIO, GenericFileIO, LocalFileIO, get_fileio  # noqa: F401
from .table import (  # noqa: F401
    CommitConflict,
    ConstraintViolation,
    LakeTable,
)
from .rollup import refresh_rollup, rollup_schema  # noqa: F401
from .snapshots import (  # noqa: F401
    WarehouseSnapshot,
    latest_snapshot,
    publish_snapshot,
)
