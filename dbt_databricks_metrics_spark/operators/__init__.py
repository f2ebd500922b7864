from .salted import distinct_count_salted, salted_join, with_salt  # noqa: F401
