from .convert import convert_transcripts, ordered_output  # noqa: F401
from .partitioning import bucket_col, fan_out_small_scan, salted_repartition  # noqa: F401
from .checkpoint import run_with_checkpoint, read_lineage  # noqa: F401
