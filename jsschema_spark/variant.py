"""JVM-side generic-JSON validation via Spark 4 VariantType.

The third execution tier, between the typed-column compiler (static types)
and the pandas-UDF fallback (full draft-04): arbitrary JSON **text** columns
validated entirely inside Catalyst — ``try_parse_json`` once, then
``try_variant_get`` / ``schema_of_variant`` predicates. No Python in the row
path, whole-stage codegen, ~10-100× the UDF path's throughput on flat event
schemas (the common case: JSON event streams).

Keywords are lowered by the same walker as the typed tier
(``jsschema_spark.compiler._Compiler``); this module supplies only its
Variant view (``_VariantView``), which decides the type test, the guard and
how values are read:

* ``schema_of_variant`` names the JSON type: BIGINT (int), DECIMAL(p,s) /
  DOUBLE (number), STRING, BOOLEAN, VOID (null), ARRAY<...>, OBJECT<...>.
  Type tests never fold, so every type-specific keyword is guarded by
  ``when(test, p).otherwise(True)``.
* ``integer`` accepts BIGINT and any numeric whose value has no fraction
  (3.0 passes, 3.14 fails) — value check via double == floor(double).
* ``try_variant_get(v, path, "long")`` COERCES ("42" → 42), so type checks
  always go through ``schema_of_variant``, never through cast success.
* key missing ⇒ SQL NULL variant; key present with JSON null ⇒ VOID variant
  (non-null) — exactly draft-04's present-vs-null distinction, so
  ``required`` is ``try_variant_get(...).isNotNull()``.
* Objects are read like a typed ``MapType``: key-set keywords
  (patternProperties, additionalProperties, property counts) and arbitrary
  property names (dots, quotes, spaces — names a ``$.name`` variant path
  would misparse) go through ``try_variant_get(v, "$",
  "map<string,variant>")``, one JVM-side cast per object level. Arrays go
  through the ``array<variant>`` cast.

Non-recursive ``$ref`` inlines at compile time through the shared resolver,
under the walker's one nesting cap. ``try_compile`` returns None only for
schemas Variant genuinely can't express statically: RECURSIVE ``$ref``
(unbounded unrolling) and non-scalar enum members (canonical-JSON equality
differs from the Python core's) — callers fall back to the Arrow pandas-UDF
path (``validate_json_auto``).
"""

from __future__ import annotations

import functools
import json
import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsschema_spark.compiler import (
    CompiledPredicate, CompileError, Test, _absent_ok, _CompiledColumns, _Compiler, _or_all,
)
from jsschema_spark.resolver import RefResolver
from jsschema_spark.schema import SchemaNode, parse_schema

_NUMERIC_PREFIXES = ("BIGINT", "DOUBLE", "FLOAT", "DECIMAL")

# property names safe to embed in a `$.name` variant-get path; anything else
# (dots, brackets, quotes, spaces, unicode) goes through the map cast
_SIMPLE_NAME = re.compile(r"^[A-Za-z0-9_]+$")

# the validator compiles over this column; ``apply`` binds it to the input
_DOC = "__jsv_doc"


class _VariantView:
    """A (possibly SQL-NULL) variant value: runtime type tests, values read
    with ``try_variant_get``."""

    jtype = None  # no static JSON type

    def __init__(self, col: Column):
        self.col = col

    @functools.cached_property
    def _t(self) -> Column:
        return F.schema_of_variant(self.col)

    def is_(self, t: str) -> Test:
        if t in ("number", "integer"):
            numeric = _or_all([self._t.startswith(p) for p in _NUMERIC_PREFIXES])
            if t == "number":
                return numeric
            d = self.number()
            return numeric & (d == F.floor(d))
        if t in ("array", "object"):
            return self._t.startswith(t.upper())
        return self._t == {"string": "STRING", "boolean": "BOOLEAN", "null": "VOID"}[t]

    type_test = is_

    def number(self) -> Column:
        return F.try_variant_get(self.col, "$", "double")

    def string(self) -> Column:
        return F.try_variant_get(self.col, "$", "string")

    def boolean(self) -> Column:
        return F.try_variant_get(self.col, "$", "boolean")

    def canonical(self) -> Column:
        raise CompileError("non-scalar enum member on the Variant tier")

    def elems(self) -> Column:
        return F.try_variant_get(self.col, "$", "array<variant>")

    def unique_keys(self) -> Column:
        return F.transform(self.elems(), lambda e: F.to_json(e))

    def member(self, x: Column) -> "_VariantView":
        return _VariantView(x)

    def fields(self) -> None:
        return None  # the key set is dynamic

    @functools.cached_property
    def _entries(self) -> Column:
        return F.try_variant_get(self.col, "$", "map<string,variant>")

    def entries(self) -> Column:
        return self._entries

    def child(self, name: str) -> "_VariantView":
        # plain names use a direct `$.name` path (no map cast); a name with
        # '.', '[', quotes or spaces would silently change that lookup
        if _SIMPLE_NAME.match(name):
            return _VariantView(F.try_variant_get(self.col, f"$.{name}", "variant"))
        return _VariantView(F.element_at(self._entries, F.lit(name)))

    def has(self, name: str) -> Column:
        return self.child(name).col.isNotNull()


class JsonColumnValidator(_CompiledColumns):
    """Compile-once Variant validator for a JSON string column: the
    predicates (in ``__init__``) and the result Column (lazily, on first
    ``apply``) are built once and reused for every DataFrame and column."""

    def __init__(self, schema: SchemaNode | dict, enforce_formats: bool = True):
        """Raises ``CompileError`` when the schema has no Variant lowering."""
        if isinstance(schema, dict):
            schema = parse_schema(schema)
        self.schema = schema
        self.enforce_formats = enforce_formats
        compiler = _Compiler(RefResolver.with_default_providers(schema.root()), enforce_formats)
        v = F.try_parse_json(F.col(_DOC))
        # malformed JSON / null input: parse failure is its own violation
        self.predicates = [CompiledPredicate("$", "$parse", v.isNotNull(), "malformed JSON")]
        self.predicates += _absent_ok(v, compiler.compile(schema, _VariantView(v), "$"))

    @classmethod
    def try_compile(cls, schema: SchemaNode | dict, **kw) -> Optional["JsonColumnValidator"]:
        try:
            return cls(schema, **kw)
        except CompileError:
            return None

    @functools.cached_property
    def _result(self) -> Column:
        return F.when(
            F.col(_DOC).isNull(),
            F.lit(None).cast(
                "struct<valid:boolean,violations:array<struct<keyword:string,path:string,message:string>>>"
            ),
        ).otherwise(F.struct(self._valid.alias("valid"), self._violations.alias("violations")))

    def apply(self, df: DataFrame, json_col: str, result_col: str = "validation") -> DataFrame:
        return df.withColumn(_DOC, F.col(json_col)).withColumn(result_col, self._result).drop(_DOC)


def validate_json_auto(
    df: DataFrame, json_col: str, schema: dict | str,
    result_col: str = "validation", enforce_formats: bool = True,
) -> DataFrame:
    """JVM Variant path when the schema is expressible, Arrow pandas-UDF
    fallback otherwise — same output contract either way."""
    schema_dict = json.loads(schema) if isinstance(schema, str) else schema
    jvm = JsonColumnValidator.try_compile(schema_dict, enforce_formats=enforce_formats)
    if jvm is not None:
        return jvm.apply(df, json_col, result_col)
    from jsschema_spark.generic import validate_json_column

    return validate_json_column(df, json_col, schema_dict, result_col, enforce_formats)
