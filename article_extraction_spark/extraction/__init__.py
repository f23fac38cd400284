from .windows import char_windows_col, iter_token_windows, token_windows_udf  # noqa: F401
from .registry import regex_extractor, extract_fields  # noqa: F401
from .enrich import complete_informations  # noqa: F401
from .encode import encode_texts_deduped, fake_encoder_udf  # noqa: F401
