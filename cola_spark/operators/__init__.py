from cola_spark.operators.dedup import admit, prepare_frontier
from cola_spark.operators.robots import robots_gate
from cola_spark.operators.priority import schedule_cut
from cola_spark.operators.budget import budget_caps, init_budget_state
from cola_spark.operators.fetch import discover_links, synthetic_fetch
from cola_spark.operators.retry import split_retry

__all__ = [
    "prepare_frontier", "admit", "robots_gate", "schedule_cut",
    "init_budget_state", "budget_caps",
    "synthetic_fetch", "discover_links", "split_retry",
]
