from nexusbase_spark.nbql.ast import (  # noqa: F401
    AggSpec,
    FlushStatement,
    PushStatement,
    QueryStatement,
    RemoveStatement,
    ShowStatement,
    SnapshotStatement,
    RestoreStatement,
)
from nexusbase_spark.nbql.parser import parse, parse_duration, substitute_params  # noqa: F401
