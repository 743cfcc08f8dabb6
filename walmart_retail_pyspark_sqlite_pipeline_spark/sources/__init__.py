from .tables import STAR_TABLES, TABLES, read_embeddings, read_table

__all__ = [
    "TABLES",
    "STAR_TABLES",
    "read_embeddings",
    "read_table",
]
