from .formatting import (  # noqa: F401
    brl,
    pct,
    week_label,
    parse_date,
    dsum,
    dsum_dec,
)
from .text import (  # noqa: F401
    token_count,
    tokens,
    quality_score,
    lang_id,
    fingerprint,
)
