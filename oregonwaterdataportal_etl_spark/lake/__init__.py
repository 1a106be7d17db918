from .bucketed import register_bucketed_table, write_bucketed_wal
from .convert import convert_partition_tree
from .incremental import AggSpec, IncrementalAggView
from .maintenance import MaintenancePolicy, maintain, plan_maintenance
from .table import LakeTable, MergeResult
from .wap import (
    Audit,
    ChangeAudit,
    DeltaBounds,
    ExprHolds,
    NotNull,
    RowBounds,
    UniqueKeys,
    WapAuditError,
    WapConflictError,
    WapStage,
    begin_wap,
    run_audits,
)

__all__ = [
    "AggSpec",
    "IncrementalAggView",
    "LakeTable",
    "MergeResult",
    "convert_partition_tree",
    "MaintenancePolicy",
    "maintain",
    "plan_maintenance",
    "register_bucketed_table",
    "write_bucketed_wal",
    "Audit",
    "ChangeAudit",
    "DeltaBounds",
    "NotNull",
    "UniqueKeys",
    "RowBounds",
    "ExprHolds",
    "run_audits",
    "WapStage",
    "WapAuditError",
    "WapConflictError",
    "begin_wap",
]
