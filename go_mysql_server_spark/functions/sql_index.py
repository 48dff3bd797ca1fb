"""The engine's SQL-callable functions, registered in a Spark session when a
statement first names them.

The reference binds a function when a statement names it, from a static
name → builder map (reference sql/expression/function/registry.go). Here
the registrars — the Python UDFs behind REGISTRY builders, the JSON and
misc bridges, spatial SQL, the collation keys and the SQL macros — declare
what they would register into one in-process index; building it makes no
JVM call. `SqlFunctions.need(text)` registers the indexed names that occur
in the text and are not registered yet.

Precedence is the order the registrars declare in: a later declaration
replaces an earlier one, and one that `yields` is skipped when a Spark
builtin or an earlier declaration already owns the name. The builtin names
are read once per `SqlFunctions`, at the first registration.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import SparkSession

# a call: a name, optionally backquoted, before an opening parenthesis
_CALL = re.compile(r"`?\b([A-Za-z_]\w*)`?\s*\(")
# the routine an UNRESOLVED_ROUTINE refusal names
_UNRESOLVED = re.compile(r"UNRESOLVED_ROUTINE\].*?routine `(\w+)`")


class Declarations:
    """What the registrars declare: name → [(register(spark), yields,
    text its body calls)], in declaration order."""

    def __init__(self) -> None:
        self.by_name: dict[str, list[tuple]] = {}

    def add(self, name: str, register, *, yields: bool = False,
            body: str = "") -> None:
        self.by_name.setdefault(name.lower(), []).append(
            (register, yields, body))

    def udf(self, name: str, fn, rtype=None, *, yields: bool = False,
            volatile: bool = False) -> None:
        """A Python UDF; a `volatile` one is nondeterministic, so Catalyst
        never folds or shares a call."""
        def register(spark: SparkSession) -> None:
            if volatile:
                from pyspark.sql import functions as F
                spark.udf.register(name, F.udf(fn, rtype).asNondeterministic())
            else:
                spark.udf.register(name, fn, rtype)
        self.add(name, register, yields=yields)

    def udtf(self, name: str, cls) -> None:
        self.add(name, lambda spark: spark.udtf.register(name, cls))

    def macro(self, name: str, params: str, rtype: str, body: str) -> None:
        """A SQL function Catalyst inlines into its caller."""
        ddl = (f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{params} "
               f"RETURNS {rtype} RETURN {body}")
        self.add(name, lambda spark: spark.sql(ddl), body=body)


@functools.cache
def declared() -> dict[str, list[tuple]]:
    """Every registrar's declarations, in precedence order."""
    from ..dialect import collation, collation_ja, collation_zh, sql_macros
    from . import declare_sql

    d = Declarations()
    declare_sql(d)
    collation.declare(d)
    collation_ja.declare(d)
    collation_zh.declare(d)
    sql_macros.declare(d)
    return d.by_name


class SqlFunctions:
    """One Spark session's view of the indexed functions, for one engine:
    `taken` holds the names registered, or owned by someone else (an
    integrator's function, a stored function), which are never
    registered over."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.taken: set[str] = set()
        self._builtins: frozenset[str] | None = None

    def claim(self, name: str) -> None:
        """`name` is someone else's now: never register over it."""
        self.taken.add(name.lower())

    def need(self, text: str) -> None:
        """Register the indexed names `text` calls that are not yet
        registered."""
        index = declared()
        for name in {n.lower() for n in _CALL.findall(text)}:
            if name in index and name not in self.taken:
                self._register(name, index[name])

    def need_refused(self, message: str) -> bool:
        """For an UNRESOLVED_ROUTINE refusal naming an indexed name that is
        not registered: register it and say so."""
        m = _UNRESOLVED.search(message)
        name = m and m.group(1).lower()
        if not name or name in self.taken or name not in declared():
            return False
        self._register(name, declared()[name])
        return True

    def _register(self, name: str, declarations: list[tuple]) -> None:
        self.taken.add(name)
        if self._builtins is None:
            analysis = self.spark._jvm.org.apache.spark.sql.catalyst.analysis
            self._builtins = frozenset(
                analysis.FunctionRegistry.functionSet().mkString("\n")
                .split("\n")
                + analysis.TableFunctionRegistry.functionSet()
                .mkString("\n").split("\n"))
        winner = None
        for register, yields, body in declarations:
            if yields and (winner is not None or name in self._builtins):
                continue
            winner = register, body
        if winner is not None:
            self.need(winner[1])  # what a macro's body calls comes first
            winner[0](self.spark)
