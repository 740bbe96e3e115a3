from .tables import (  # noqa: F401
    TABLES,
    lang_lookup,
    load_table,
    pages_from_documents,
    synthetic_pages,
)
