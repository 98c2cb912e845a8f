from .pages_gen import make_page, generate_pages_df, PAGES_SCHEMA
from .warc import read_warc, read_warc_stream, make_warc
from .tables import load_table

__all__ = ["make_page", "generate_pages_df", "PAGES_SCHEMA", "load_table", "read_warc", "read_warc_stream", "make_warc"]
