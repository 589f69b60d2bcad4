"""Column-expression libraries (built-in pyspark.sql.functions only in the
hot path; pandas UDFs only where JVM built-ins cannot express the op)."""

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


@functools.cache
def cols(names: tuple[str, ...]) -> tuple[Column, ...]:
    """``F.col`` of each name, built once per process.  A Column is an
    unresolved expression tree that belongs to no DataFrame and no
    session, so a projection the crawl round repeats every round can
    reuse these instead of a py4j round trip per name."""
    return tuple(map(F.col, names))
