"""Typed-column compiler: SchemaNode IR → Catalyst ``Column`` predicate DAG.

This is the engine's analogue of the reference's ``validator.Compile``
(validator/validator.go:32-39): a draft-04 schema whose ``properties`` map
onto the columns of a typed DataFrame compiles **once on the driver** into
pure ``pyspark.sql.Column`` expressions — no Python in the row path, full
whole-stage codegen, predicates eligible for pushdown.

Scale design (100 TB / 10^12 rows):

* Every keyword is a built-in-function expression (``rlike``, ``length``,
  ``isin``, ``size``, ``forall``, ``element_at`` …) — JVM-side, vectorized
  over columnar parquet batches; zero shuffles for the per-row pass.
* Type checks against the table's *static* Spark types constant-fold at
  compile time (SURVEY.md §2.2 row 1): a ``{"type": "string"}`` on a
  StringType column emits no runtime work at all.
* ``valid`` (cheap AND-of-preds) and ``violations`` (array of detail
  structs) are separate columns so a throughput-only pass can skip building
  the violation structs.
* The per-keyword violation summary is ONE aggregation pass —
  ``sum(when(!pred,1))`` per predicate, map-side partial aggregation — not a
  per-keyword scan.

Semantic notes (documented divergences forced by the typed representation,
SURVEY.md "hard parts"):

* JSON "property present" maps to SQL ``IS NOT NULL`` — a typed column always
  exists, so ``required`` = non-null, and every other keyword on a column is
  vacuously true when the value is NULL (mirrors draft-04 where keywords only
  constrain *present* properties).
* ``pattern`` uses Java regex via ``rlike`` (unanchored search, same as the
  reference's Go RE2 ``re.search`` — marshal.go:143-169); the corpus patterns
  sit in the common subset.
* Binary columns have no JSON type; only presence (`required`) and custom
  invariants (see ``jsschema_spark.audio``) apply.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsschema_spark.errors import ResolutionError, SchemaParseError
from jsschema_spark.resolver import RefResolver
from jsschema_spark.schema import FORBIDDEN, SchemaNode

MAX_COMPILE_REF_DEPTH = 16


class CompileError(SchemaParseError):
    """Schema cannot be compiled to Column expressions (e.g. unbounded
    recursive $ref) — callers fall back to the generic pandas-UDF path."""


@dataclass
class CompiledPredicate:
    path: str
    keyword: str
    pred: Column  # null-safe: True ⇒ constraint satisfied
    message: str


def _json_type_of_spark(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    return "unknown"


# vetted Java-regex format patterns (mirror of pyvalidate's, rlike-ready)
_FORMAT_RLIKE = {
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    # keeps the total-length lookahead from pyvalidate's _RE_HOSTNAME (Java
    # regex supports lookahead in rlike) — tier-parity with the Python core
    "hostname": r"^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$",
    "ipv4": r"^(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}$",
    "ipv6": r"^[0-9A-Fa-f:.]{2,45}$",
    "uri": r"^[A-Za-z][A-Za-z0-9+.-]*:",
    "date-time": r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$",
}


def _and_all(cols: list[Column]) -> Column:
    if not cols:
        return F.lit(True)
    return functools.reduce(operator.and_, cols)


def _or_all(cols: list[Column]) -> Column:
    if not cols:
        return F.lit(False)
    return functools.reduce(operator.or_, cols)


class _Compiler:
    def __init__(self, resolver: RefResolver, enforce_formats: bool):
        self.resolver = resolver
        self.enforce_formats = enforce_formats

    # ------------------------------------------------------------------
    def compile_value(
        self, s: SchemaNode, col: Column, dt: T.DataType, path: str, depth: int = 0
    ) -> list[CompiledPredicate]:
        """Predicates for a *present* (non-null) value of static type ``dt``.

        Callers are responsible for the null wrap (absent ⇒ vacuous pass).
        """
        if depth > MAX_COMPILE_REF_DEPTH:
            raise CompileError(f"$ref nesting too deep at {path} — use the generic path")
        if s.ref:
            try:
                target = self.resolver.resolve_node(s)
            except ResolutionError as e:
                raise CompileError(str(e)) from None
            return self.compile_value(target, col, dt, path, depth + 1)

        preds: list[CompiledPredicate] = []
        static_t = _json_type_of_spark(dt)

        # --- type (constant-folds on static types, SURVEY §2.2 row 1)
        if s.types:
            preds.extend(self._type_pred(s, col, dt, static_t, path))

        # --- enum
        if s.enum is not None:
            scalars = [v for v in s.enum if isinstance(v, (str, int, float, bool))]
            if static_t in ("string", "integer", "number", "boolean") and scalars:
                preds.append(
                    CompiledPredicate(path, "enum", col.isin(*scalars), "value not in enum")
                )
            elif static_t in ("array", "object"):
                import json as _json

                canon = [
                    _json.dumps(v, sort_keys=True, separators=(",", ":"))
                    for v in s.enum
                ]
                preds.append(
                    CompiledPredicate(
                        path, "enum", F.to_json(col).isin(*canon), "value not in enum"
                    )
                )
            else:
                preds.append(CompiledPredicate(path, "enum", F.lit(False), "value not in enum"))

        # --- numeric keywords
        if static_t in ("integer", "number"):
            if s.multiple_of is not None and s.multiple_of != 0:
                if static_t == "integer" and float(s.multiple_of).is_integer():
                    p = F.pmod(col, F.lit(int(s.multiple_of))) == 0
                else:
                    # tolerance scales with ulp(q) (double spacing ≈ |q|·2e-16,
                    # so a true multiple's computed q is within a few ulps of an
                    # integer); 1e-9 floor absorbs decimal-literal error at small q
                    q = col / F.lit(float(s.multiple_of))
                    p = F.abs(q - F.round(q)) < F.greatest(F.lit(1e-9), F.abs(q) * F.lit(1e-14))
                preds.append(
                    CompiledPredicate(path, "multipleOf", p, f"not a multiple of {s.multiple_of}")
                )
            if s.minimum is not None:
                if s.exclusive_minimum:
                    preds.append(
                        CompiledPredicate(
                            path, "exclusiveMinimum", col > F.lit(s.minimum), f"<= {s.minimum}"
                        )
                    )
                else:
                    preds.append(
                        CompiledPredicate(path, "minimum", col >= F.lit(s.minimum), f"< {s.minimum}")
                    )
            if s.maximum is not None:
                if s.exclusive_maximum:
                    preds.append(
                        CompiledPredicate(
                            path, "exclusiveMaximum", col < F.lit(s.maximum), f">= {s.maximum}"
                        )
                    )
                else:
                    preds.append(
                        CompiledPredicate(path, "maximum", col <= F.lit(s.maximum), f"> {s.maximum}")
                    )

        # --- string keywords (F.length counts characters on strings)
        if static_t == "string":
            if s.min_length is not None:
                preds.append(
                    CompiledPredicate(
                        path, "minLength", F.length(col) >= s.min_length, f"shorter than {s.min_length}"
                    )
                )
            if s.max_length is not None:
                preds.append(
                    CompiledPredicate(
                        path, "maxLength", F.length(col) <= s.max_length, f"longer than {s.max_length}"
                    )
                )
            if s.pattern is not None:
                preds.append(
                    CompiledPredicate(
                        path, "pattern", col.rlike(s.pattern.pattern),
                        f"does not match {s.pattern.pattern!r}",
                    )
                )
            if s.format and self.enforce_formats and s.format in _FORMAT_RLIKE:
                p = col.rlike(_FORMAT_RLIKE[s.format])
                if s.format == "ipv6":
                    p = p & col.contains(":")
                preds.append(CompiledPredicate(path, "format", p, f"not a valid {s.format}"))

        # --- array keywords
        if static_t == "array" and isinstance(dt, T.ArrayType):
            elem_dt = dt.elementType
            if s.min_items is not None:
                preds.append(
                    CompiledPredicate(path, "minItems", F.size(col) >= s.min_items, f"fewer than {s.min_items} items")
                )
            if s.max_items is not None:
                preds.append(
                    CompiledPredicate(path, "maxItems", F.size(col) <= s.max_items, f"more than {s.max_items} items")
                )
            if s.unique_items:
                preds.append(
                    CompiledPredicate(
                        path, "uniqueItems",
                        F.size(F.array_distinct(col)) == F.size(col), "duplicate elements",
                    )
                )
            if s.items is not None:
                if s.items.tuple_mode:
                    arity = len(s.items.schemas)
                    for i, sub in enumerate(s.items.schemas):
                        sub_pred = self._value_pred(
                            sub, F.element_at(col, i + 1), elem_dt, f"{path}[{i}]", depth + 1
                        )
                        preds.append(
                            CompiledPredicate(
                                f"{path}[{i}]", "items",
                                F.when(F.size(col) > i, sub_pred).otherwise(F.lit(True)),
                                "tuple element violates item schema",
                            )
                        )
                    if s.additional_items is FORBIDDEN:
                        preds.append(
                            CompiledPredicate(
                                path, "additionalItems", F.size(col) <= arity,
                                f"more than tuple arity {arity} items",
                            )
                        )
                    elif isinstance(s.additional_items, SchemaNode):
                        extra = s.additional_items
                        lam = self._element_lambda(extra, elem_dt, f"{path}[*]", depth + 1)
                        preds.append(
                            CompiledPredicate(
                                path, "additionalItems",
                                F.forall(F.slice(col, arity + 1, 2_147_483_647 - arity), lam),
                                "additional element violates schema",
                            )
                        )
                else:
                    sub = s.items.schemas[0]
                    lam = self._element_lambda(sub, elem_dt, f"{path}[*]", depth + 1)
                    preds.append(
                        CompiledPredicate(
                            path, "items", F.forall(col, lam), "element violates item schema"
                        )
                    )

        # --- object keywords
        if isinstance(dt, T.StructType):
            preds.extend(self._struct_preds(s, col, dt, path, depth))
        elif isinstance(dt, T.MapType):
            preds.extend(self._map_preds(s, col, dt, path, depth))

        # --- combinators
        for i, sub in enumerate(s.all_of):
            preds.extend(self.compile_value(sub, col, dt, path, depth + 1))
        if s.any_of:
            branches = [self._value_pred(b, col, dt, path, depth + 1) for b in s.any_of]
            preds.append(CompiledPredicate(path, "anyOf", _or_all(branches), "no branch matched"))
        if s.one_of:
            branches = [self._value_pred(b, col, dt, path, depth + 1) for b in s.one_of]
            hits = functools.reduce(
                operator.add,
                [F.when(b, F.lit(1)).otherwise(F.lit(0)) for b in branches],
            )
            preds.append(
                CompiledPredicate(path, "oneOf", hits == 1, "not exactly one branch matched")
            )
        if s.not_ is not None:
            preds.append(
                CompiledPredicate(
                    path, "not", ~self._value_pred(s.not_, col, dt, path, depth + 1),
                    "matched forbidden schema",
                )
            )
        return preds

    # ------------------------------------------------------------------
    def _type_pred(self, s, col, dt, static_t, path) -> list[CompiledPredicate]:
        msg = f"expected {s.types}, got {static_t}"
        ok_static = False
        dynamic: list[Column] = []
        for declared in s.types:
            if declared == static_t:
                ok_static = True
            elif declared == "number" and static_t == "integer":
                ok_static = True
            elif declared == "integer" and static_t == "number":
                dynamic.append(col == F.floor(col))
            elif declared == "string" and static_t == "datetime":
                ok_static = True  # datetimes serialize as strings in JSON
            elif declared == "null":
                # typed path: null ≡ absent and callers null-wrap, so a pure
                # "null" branch can never be satisfied by a present value
                pass
        if ok_static:
            return []  # constant-folds to True — no runtime work
        if dynamic:
            return [CompiledPredicate(path, "type", _or_all(dynamic), msg)]
        return [CompiledPredicate(path, "type", F.lit(False), msg)]

    def _value_pred(self, s: SchemaNode, col: Column, dt: T.DataType, path: str, depth: int) -> Column:
        """Single null-safe conjunction for a value (used by combinators)."""
        preds = self.compile_value(s, col, dt, path, depth)
        return F.coalesce(_and_all([p.pred for p in preds]), F.lit(False))

    def _element_lambda(self, sub: SchemaNode, elem_dt: T.DataType, path: str, depth: int):
        def lam(x: Column) -> Column:
            inner = self._value_pred(sub, x, elem_dt, path, depth)
            return F.when(x.isNull(), F.lit(True)).otherwise(inner)

        return lam

    # ------------------------------------------------------------------
    def _struct_preds(self, s, col, dt: T.StructType, path, depth) -> list[CompiledPredicate]:
        preds: list[CompiledPredicate] = []
        fields = {f.name: f.dataType for f in dt.fields}

        for req in s.required:
            if req not in fields:
                preds.append(
                    CompiledPredicate(
                        f"{path}.{req}", "required", F.lit(False),
                        f"column {req!r} missing from table schema",
                    )
                )
            else:
                preds.append(
                    CompiledPredicate(
                        f"{path}.{req}", "required", col.getField(req).isNotNull(),
                        f"missing required property {req!r}",
                    )
                )

        for name, sub in s.properties.items():
            if name not in fields:
                continue  # absent property ⇒ vacuously valid
            child = col.getField(name)
            child_path = f"{path}.{name}"
            for cp in self.compile_value(sub, child, fields[name], child_path, depth + 1):
                preds.append(
                    CompiledPredicate(
                        cp.path, cp.keyword,
                        F.when(child.isNull(), F.lit(True)).otherwise(
                            F.coalesce(cp.pred, F.lit(False))
                        ),
                        cp.message,
                    )
                )

        # patternProperties against *static* field names — resolved at
        # compile time (SURVEY §2.2 row 15)
        for src, (rx, sub) in s.pattern_properties.items():
            for name, fdt in fields.items():
                if rx.search(name):
                    child = col.getField(name)
                    child_path = f"{path}.{name}"
                    for cp in self.compile_value(sub, child, fdt, child_path, depth + 1):
                        preds.append(
                            CompiledPredicate(
                                cp.path, cp.keyword,
                                F.when(child.isNull(), F.lit(True)).otherwise(
                                    F.coalesce(cp.pred, F.lit(False))
                                ),
                                cp.message,
                            )
                        )

        # additionalProperties on a closed StructType: unknown keys are
        # impossible ⇒ constant-folds, unless the schema forbids a field the
        # table actually has
        if s.additional_properties is FORBIDDEN:
            known = set(s.properties)
            for name in fields:
                if name in known:
                    continue
                if any(rx.search(name) for _s, (rx, _) in s.pattern_properties.items()):
                    continue
                preds.append(
                    CompiledPredicate(
                        f"{path}.{name}", "additionalProperties",
                        col.getField(name).isNull(),
                        f"unexpected property {name!r}",
                    )
                )

        # property-count keywords: "present" ≡ non-null field
        if s.min_properties is not None or s.max_properties is not None:
            cnt = functools.reduce(
                operator.add,
                [
                    F.when(col.getField(f).isNotNull(), F.lit(1)).otherwise(F.lit(0))
                    for f in fields
                ],
            )
            if s.min_properties is not None:
                preds.append(
                    CompiledPredicate(
                        path, "minProperties", cnt >= s.min_properties,
                        f"fewer than {s.min_properties} properties",
                    )
                )
            if s.max_properties is not None:
                preds.append(
                    CompiledPredicate(
                        path, "maxProperties", cnt <= s.max_properties,
                        f"more than {s.max_properties} properties",
                    )
                )

        # dependencies
        for pname, deplist in s.dep_names.items():
            if pname not in fields:
                continue
            for d in deplist:
                dep_ok = col.getField(d).isNotNull() if d in fields else F.lit(False)
                preds.append(
                    CompiledPredicate(
                        path, "dependencies",
                        F.when(col.getField(pname).isNotNull(), dep_ok).otherwise(F.lit(True)),
                        f"{pname!r} requires {d!r}",
                    )
                )
        for pname, dschema in s.dep_schemas.items():
            if pname not in fields:
                continue
            inner = self._value_pred(dschema, col, dt, path, depth + 1)
            preds.append(
                CompiledPredicate(
                    path, "dependencies",
                    F.when(col.getField(pname).isNotNull(), inner).otherwise(F.lit(True)),
                    f"{pname!r} schema dependency violated",
                )
            )
        return preds

    def _map_preds(self, s, col, dt: T.MapType, path, depth) -> list[CompiledPredicate]:
        preds: list[CompiledPredicate] = []
        val_dt = dt.valueType
        for req in s.required:
            preds.append(
                CompiledPredicate(
                    f"{path}.{req}", "required", F.map_contains_key(col, req),
                    f"missing required property {req!r}",
                )
            )
        for name, sub in s.properties.items():
            child = F.element_at(col, F.lit(name))
            inner = self._value_pred(sub, child, val_dt, f"{path}.{name}", depth + 1)
            preds.append(
                CompiledPredicate(
                    f"{path}.{name}", "properties",
                    F.when(child.isNull(), F.lit(True)).otherwise(inner),
                    f"property {name!r} violates schema",
                )
            )
        for src, (rx, sub) in s.pattern_properties.items():
            def entry_ok(k: Column, v: Column, _sub=sub, _src=src) -> Column:
                inner = self._value_pred(_sub, v, val_dt, f"{path}.<{_src}>", depth + 1)
                return F.when(~k.rlike(_src), F.lit(True)).otherwise(
                    F.when(v.isNull(), F.lit(True)).otherwise(inner)
                )

            preds.append(
                CompiledPredicate(
                    f"{path}", "patternProperties",
                    F.forall(F.map_entries(col), lambda e: entry_ok(e.getField("key"), e.getField("value"))),
                    f"patternProperties {src!r} violated",
                )
            )
        if s.additional_properties is FORBIDDEN:
            known = list(s.properties)
            rxs = [src for src in s.pattern_properties]

            def key_ok(k: Column) -> Column:
                ok = k.isin(*known) if known else F.lit(False)
                for srcp in rxs:
                    ok = ok | k.rlike(srcp)
                return ok

            preds.append(
                CompiledPredicate(
                    path, "additionalProperties",
                    F.forall(F.map_keys(col), key_ok), "unexpected properties",
                )
            )
        n_keys = F.size(col)
        if s.min_properties is not None:
            preds.append(
                CompiledPredicate(path, "minProperties", n_keys >= s.min_properties,
                                  f"fewer than {s.min_properties} properties")
            )
        if s.max_properties is not None:
            preds.append(
                CompiledPredicate(path, "maxProperties", n_keys <= s.max_properties,
                                  f"more than {s.max_properties} properties")
            )
        for pname, deplist in s.dep_names.items():
            has = F.map_contains_key(col, pname)
            for d in deplist:
                preds.append(
                    CompiledPredicate(
                        path, "dependencies",
                        F.when(has, F.map_contains_key(col, d)).otherwise(F.lit(True)),
                        f"{pname!r} requires {d!r}",
                    )
                )
        for pname, dschema in s.dep_schemas.items():
            inner = self._value_pred(dschema, col, dt, path, depth + 1)
            preds.append(
                CompiledPredicate(
                    path, "dependencies",
                    F.when(F.map_contains_key(col, pname), inner).otherwise(F.lit(True)),
                    f"{pname!r} schema dependency violated",
                )
            )
        return preds


# --------------------------------------------------------------------------

VIOLATION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("keyword", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("message", T.StringType()),
        ]
    )
)


class TableValidator:
    """Compile-once validator for a typed table: the predicates, and (lazily,
    on first use) the ``valid``/``violations`` Columns, are built once on the
    driver and reused across DataFrames, threads and every partition — the
    reference's compile-once cache, validator/validator.go:41-53, without the
    mutex: Columns are unresolved expressions and Spark ships the plan."""

    def __init__(
        self,
        schema: SchemaNode,
        df_schema: T.StructType,
        resolver: Optional[RefResolver] = None,
        enforce_formats: bool = True,
    ):
        self.schema = schema
        self.df_schema = df_schema
        resolver = resolver or RefResolver.with_default_providers(schema.root())
        compiler = _Compiler(resolver, enforce_formats)
        # the root instance is the row itself: a struct of the table columns
        row_col = F.struct(*[F.col(f.name) for f in df_schema.fields])
        self.predicates: list[CompiledPredicate] = compiler.compile_value(
            schema, row_col, df_schema, "$"
        )

    # -- columns ---------------------------------------------------------
    def valid_column(self) -> Column:
        return self._valid

    def violations_column(self) -> Column:
        return self._violations

    @functools.cached_property
    def _valid(self) -> Column:
        return _and_all([F.coalesce(p.pred, F.lit(False)) for p in self.predicates])

    @functools.cached_property
    def _violations(self) -> Column:
        if not self.predicates:
            return F.array().cast(VIOLATION_SCHEMA)
        entries = [
            F.when(
                ~F.coalesce(p.pred, F.lit(False)),
                F.struct(
                    F.lit(p.keyword).alias("keyword"),
                    F.lit(p.path).alias("path"),
                    F.lit(p.message).alias("message"),
                ),
            )
            for p in self.predicates
        ]
        return F.array_compact(F.array(*entries)).cast(VIOLATION_SCHEMA)

    # -- table ops --------------------------------------------------------
    def apply(
        self, df: DataFrame, with_violations: bool = True,
        valid_col: str = "valid", violations_col: str = "violations",
    ) -> DataFrame:
        cols = {valid_col: self._valid}
        if with_violations:
            cols[violations_col] = self._violations
        return df.withColumns(cols)

    def violation_details(self, df: DataFrame, id_cols: Optional[list[str]] = None) -> DataFrame:
        """Exploded per-violation detail rows (north_rule's detail records)."""
        id_cols = id_cols or []
        applied = self.apply(df, with_violations=True)
        v = F.explode(F.col("violations")).alias("v")
        return applied.where(~F.col("valid")).select(*id_cols, v).select(
            *id_cols,
            F.col("v.keyword").alias("keyword"),
            F.col("v.path").alias("path"),
            F.col("v.message").alias("message"),
        )

    def violation_samples(
        self, df: DataFrame, k: int = 3,
        id_cols: Optional[list[str]] = None,
        order_by: Optional[list[str]] = None,
    ) -> DataFrame:
        """Top-``k`` sample rows per (path, keyword) violation — the
        north_rule's per-keyword detail records, bounded so a 10^12-row table
        yields at most ``k × n_keywords`` rows. Deterministic when
        ``order_by`` (default: ``id_cols``) is a unique ordering. One window
        shuffle partitioned by (path, keyword) — ≤ n_keywords partitions,
        each capped by the upstream violation filter."""
        from pyspark.sql import Window

        order_cols = order_by or id_cols
        if not order_cols:
            raise ValueError("violation_samples needs id_cols or order_by for determinism")
        # project the UNION of id and ordering columns — order_by without
        # id_cols must still resolve inside the window input
        detail_cols = list(dict.fromkeys((id_cols or []) + list(order_cols)))
        details = self.violation_details(df, id_cols=detail_cols)
        w = Window.partitionBy("path", "keyword").orderBy(*[F.col(c) for c in order_cols])
        return (
            details.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
        )

    def summary(self, df: DataFrame) -> DataFrame:
        """Per-(path, keyword) violation counts in ONE aggregation pass
        (map-side partial agg; a single job regardless of keyword count)."""
        aggs = [
            F.sum(
                F.when(~F.coalesce(p.pred, F.lit(False)), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"p{i}")
            for i, p in enumerate(self.predicates)
        ]
        aggs.append(F.count(F.lit(1)).alias("__total"))
        row = df.agg(*aggs)
        if not self.predicates:
            return row.select(
                F.lit("$").alias("path"), F.lit("none").alias("keyword"),
                F.lit(0).cast("long").alias("n_violations"),
                F.col("__total").alias("n_rows"),
            )
        # unpivot via Column API (explode of struct literals), never by
        # interpolating schema-supplied path/keyword text into SQL — schema
        # documents are untrusted input and property names may contain quotes
        entries = F.array(
            *[
                F.struct(
                    F.lit(p.path).alias("path"),
                    F.lit(p.keyword).alias("keyword"),
                    F.col(f"p{i}").alias("n_violations"),
                )
                for i, p in enumerate(self.predicates)
            ]
        )
        return row.select(
            F.explode(entries).alias("s"), F.col("__total").alias("n_rows")
        ).select("s.path", "s.keyword", "s.n_violations", "n_rows")
