from .predicates import Predicate, normalize_predicates  # noqa: F401
from .parse import ParsedQuery, parse_query  # noqa: F401
from .planner import QueryPlan, plan_query  # noqa: F401
