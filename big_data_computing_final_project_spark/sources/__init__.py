"""Sources & sinks (SURVEY.md §2.1 S1-S4)."""

from .io import (  # noqa: F401
    local_frame,
    read_csv,
    read_jsonl,
    read_orc,
    read_parquet,
    write_bucketed,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
    write_submission,
)
from .models import load_pipeline_model, save_pipeline_model  # noqa: F401
