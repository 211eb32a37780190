from .text import (  # noqa: F401
    strip_diacritics,
    nbsp_to_space,
    digits_only,
    split_words,
    join_last_two,
    join_all_but_last_two,
    last_two_words,
    collapse_whitespace,
    basename,
)
from .numeric import guarded_ratio_int, lenient_int, lenient_double  # noqa: F401
from .vectors import cosine_similarity, dot, l2_norm, normalize  # noqa: F401
from .hof import bind  # noqa: F401
