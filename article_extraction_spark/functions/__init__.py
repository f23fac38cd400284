from .casts import (  # noqa: F401
    clean_value_col,
    parse_numeric_col,
    to_boolean_col,
    to_date_col,
    to_float_comma_col,
    to_int_comma_col,
    to_timestamp_col,
    to_year_col,
)
from .textnorm import (  # noqa: F401
    normalise_cell_col,
    normalize_alnum_col,
    split_tokens,
    split_tokens_col,
)
from .similarity import (  # noqa: F401
    cosine_distance_col,
    jaro_winkler,
    jaro_winkler_udf,
    levenshtein_normalized_col,
)
from .urls import (  # noqa: F401
    arxiv_id_col,
    first_url_col,
    is_pdf_url_col,
    solve_url_col,
    strip_trailing_punct_col,
)
from .physics import (  # noqa: F401
    DEFAULT_MFU,
    DEFAULT_PUE,
    co2eq_col,
    energy_kwh_col,
    training_time_hours_col,
    watts_to_kilowatts_col,
)
