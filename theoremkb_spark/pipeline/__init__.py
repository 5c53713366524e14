from .extract import extract_text, extract_tokens, load_pages, write_pages_parquet  # noqa: F401
from .label import label_tokens  # noqa: F401
from .mentions import assemble_spans, mine_mentions, paper_citations  # noqa: F401
from .runner import build_kg  # noqa: F401
