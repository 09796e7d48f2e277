from .text import (  # noqa: F401
    local_name,
    normalize_lang,
    severity_from_iri,
)
