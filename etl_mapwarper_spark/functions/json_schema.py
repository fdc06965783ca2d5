"""JSON Schema (draft-04 subset) → Spark StructType converter.

The reference declares its output contract as a JSON Schema with a
``oneOf`` over the two record shapes plus ``flattenPaths`` projection
hints (mapwarper.dataset.json:27-40,41-153); the framework validates
every written object against it. In this engine the same contract
becomes a StructType: sources declare it, sinks are checked against
it, and the ``flattenPaths`` hints become plain column projections.

Supported subset (all the reference uses): scalar types
string/integer/number/boolean/null, ``object`` + ``properties`` +
``required``, ``array`` + ``items`` (single schema or draft-04 tuple
form), and ``oneOf``. Tolerances, matching observed reference data:
an ``items`` key implies an array even when ``type`` is missing or
misspelled (the reference descriptor contains ``"type": "aray"``),
and tuple-form items collapse to their merged element type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCALARS = {
    "string": T.StringType(),
    "integer": T.LongType(),
    "number": T.DoubleType(),
    "boolean": T.BooleanType(),
    "null": T.NullType(),
}


def json_schema_to_datatype(js: dict) -> T.DataType:
    """Convert one JSON-Schema node to a Spark DataType."""
    if "oneOf" in js:
        return merge_structs(
            [json_schema_to_datatype(v) for v in js["oneOf"]]
        )
    t = js.get("type")
    if isinstance(t, list):  # e.g. ["string", "null"] → nullable scalar
        non_null = [x for x in t if x != "null"]
        return json_schema_to_datatype({**js, "type": non_null[0]})
    if t == "object" or "properties" in js:
        required = set(js.get("required", []))
        return T.StructType(
            [
                T.StructField(
                    name,
                    json_schema_to_datatype(sub),
                    nullable=name not in required,
                )
                for name, sub in js.get("properties", {}).items()
            ]
        )
    if t == "array" or "items" in js:
        items = js.get("items", {})
        if isinstance(items, list):  # draft-04 tuple form
            element = merge_types(
                [json_schema_to_datatype(i) for i in items]
            )
        else:
            element = json_schema_to_datatype(items)
        return T.ArrayType(element)
    if t in _SCALARS:
        return _SCALARS[t]
    raise ValueError(f"unsupported JSON-Schema node: {js!r}")


def merge_types(types: list[T.DataType]) -> T.DataType:
    """Merge sibling types (tuple items / oneOf variants)."""
    distinct = {t.simpleString(): t for t in types}
    if len(distinct) == 1:
        return next(iter(distinct.values()))
    if all(isinstance(t, T.StructType) for t in types):
        return merge_structs(types)
    numeric = {T.LongType().simpleString(), T.DoubleType().simpleString()}
    if set(distinct) <= numeric:
        return T.DoubleType()
    raise ValueError(f"cannot merge types: {sorted(distinct)}")


def merge_structs(variants: list[T.DataType]) -> T.StructType:
    """Union of oneOf variant structs — one frame holds any variant,
    a field is non-nullable only if every variant requires it."""
    for v in variants:
        if not isinstance(v, T.StructType):
            raise ValueError("oneOf variants must all be objects")
    types: dict[str, T.DataType] = {}
    for v in variants:
        for f in v.fields:
            types[f.name] = (
                merge_types([types[f.name], f.dataType])
                if f.name in types
                else f.dataType
            )
    by_variant = [
        {f.name: f.nullable for f in v.fields} for v in variants
    ]
    return T.StructType(
        [
            T.StructField(
                name,
                dt,
                nullable=not all(
                    bv.get(name) is False for bv in by_variant
                ),
            )
            for name, dt in types.items()
        ]
    )


def apply_flatten_paths(df: DataFrame, paths: list[str]) -> DataFrame:
    """Project a nested frame to the descriptor's flattened columns,
    keeping every top-level column that is not a flatten source."""
    sources = {p.removeprefix("$.").split(".", 1)[0] for p in paths}
    keep = [c for c in df.columns if c not in sources]
    existing = {f.name for f in df.schema.fields}
    usable = []
    for p in paths:
        dotted = p.removeprefix("$.")
        root, rest = dotted.split(".", 1)
        if root in existing and rest in [
            f.name for f in df.schema[root].dataType.fields
        ]:
            usable.append(F.col(dotted).alias(rest.rsplit(".", 1)[-1]))
    return df.select(*keep, *usable)
