from .kernel import (
    extract_links_udf,
    html_to_text_udf,
    is_pdf_col,
    make_extract_fields_udf,
    normalize_url_udf,
    valid_url_col,
)

__all__ = [
    "extract_links_udf",
    "html_to_text_udf",
    "is_pdf_col",
    "make_extract_fields_udf",
    "normalize_url_udf",
    "valid_url_col",
]
