"""The registry queries of ``__spark_entry__``, one module per family.

Each module holds its queries' build functions, their DuckDB oracle SQL
and their private helpers; ``_common`` holds what two or more families
share, and ``PERSISTED``, the one owner of the frames queries leave
persisted. The order of the queries is written only in
``__spark_entry__._registry()``."""

from ._common import PERSISTED

__all__ = ["PERSISTED"]
