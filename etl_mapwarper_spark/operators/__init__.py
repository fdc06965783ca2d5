"""Operator modules.

Each registering module opens with ``QUERIES, ORACLE, _register =
registry()``: ``QUERIES`` maps an entry name to its ``(spark, sf_dir) ->
DataFrame`` function and ``ORACLE`` maps it to DuckDB SQL for the same
result, when the semantics are SQL-expressible. The driver-facing
``__spark_entry__`` merges these registries.
"""


def registry():
    """A fresh ``(QUERIES, ORACLE, register)`` triple for one module.

    ``register(name, fn, sql=None)`` stores ``fn`` itself (its
    ``__module__`` names the family) and, when given, its oracle SQL.
    """
    queries, oracle = {}, {}

    def register(name, fn, sql=None):
        queries[name] = fn
        if sql is not None:
            oracle[name] = sql

    return queries, oracle, register
