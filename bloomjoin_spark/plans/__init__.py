from .audit import PlanAudit, plan_audit
from .planner import (
    BloomJoinPlan,
    BloomJoinReport,
    broadcast_survivors,
    choose_prefilter_target,
    resolve_join_columns,
    should_skip_prefilter,
    validate_join_inputs,
)

__all__ = [
    "PlanAudit",
    "plan_audit",
    "BloomJoinPlan",
    "BloomJoinReport",
    "broadcast_survivors",
    "choose_prefilter_target",
    "resolve_join_columns",
    "should_skip_prefilter",
    "validate_join_inputs",
]
