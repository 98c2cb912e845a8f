from .sniff import content_type_col
from .text_funcs import normalized_text_col, token_count_col

__all__ = [
    "content_type_col",
    "token_count_col",
    "normalized_text_col",
]
