from .extract import extract_text, extract_tokens, load_pages, write_pages_parquet  # noqa: F401
from .runner import build_kg  # noqa: F401
