from .split import deterministic_split  # noqa: F401
from .aggregates import (  # noqa: F401
    cumulative_mean,
    latest_per_group,
    top_k,
)
from .joins import fuzzy_match_country, fuzzy_match_hardware  # noqa: F401
