"""Draft-04 keyword lowering: SchemaNode IR → Catalyst ``Column`` predicates.

This is the engine's analogue of the reference's ``validator.Compile``
(validator/validator.go:32-39): a draft-04 schema compiles **once on the
driver** into pure ``pyspark.sql.Column`` expressions — no Python in the row
path, full whole-stage codegen, predicates eligible for pushdown.

One keyword walker (``_Compiler``) lowers every keyword, in one place, for
both Catalyst tiers. It sees a JSON value through a small *view* that makes
only the decisions where the tiers really differ:

* **Type test** (``is_``): ``_TypedView`` folds it at compile time against the
  column's *static* Spark type (SURVEY.md §2.2 row 1) — a ``{"type":
  "string"}`` on a StringType column emits no runtime work at all. The
  Variant view (``jsschema_spark.variant``) tests ``schema_of_variant``.
* **Guard**: a type-specific keyword (numeric, string, array, object) applies
  to values of its type only. When the view's test folds, the keyword is
  emitted unconditionally or dropped; otherwise it becomes
  ``when(guard, p).otherwise(True)``.
* **Value extraction**: ``number``/``string``/``boolean``, array elements
  (``elems``, ``member``) and object children by name (``child``, ``has``).
* **Object key sets**: a typed ``StructType`` resolves ``patternProperties``,
  ``additionalProperties`` and property counts at compile time against its
  static field names (``fields``). A typed ``MapType`` and a Variant object
  share one map-based lowering over ``entries`` (``map_keys``/``forall``).

Scale design (100 TB / 10^12 rows):

* Every keyword is a built-in-function expression (``rlike``, ``length``,
  ``isin``, ``size``, ``forall``, ``element_at`` …) — JVM-side, vectorized
  over columnar parquet batches; zero shuffles for the per-row pass.
* ``valid`` (cheap AND-of-preds) and ``violations`` (array of detail
  structs) are separate columns so a throughput-only pass can skip building
  the violation structs.
* The per-keyword violation summary is ONE aggregation pass —
  ``sum(when(!pred,1))`` per predicate, map-side partial aggregation — not a
  per-keyword scan.

Semantic notes for the typed tier (documented divergences forced by the
typed representation, SURVEY.md "hard parts"):

* JSON "property present" maps to SQL ``IS NOT NULL`` — a typed column always
  exists, so ``required`` = non-null, and every other keyword on a column is
  vacuously true when the value is NULL (mirrors draft-04 where keywords only
  constrain *present* properties). A NULL array element or map value is
  likewise vacuously valid.
* ``enum`` keeps only the members whose JSON type matches the column's static
  type (``true`` is not an integer, ``1`` is not a string); none left ⇒ the
  predicate is ``false``.
* ``pattern`` uses Java regex via ``rlike`` (unanchored search, same as the
  reference's Go RE2 ``re.search`` — marshal.go:143-169); the corpus patterns
  sit in the common subset.
* Binary columns have no JSON type; only presence (`required`) and custom
  invariants (see ``jsschema_spark.audio``) apply.
"""

from __future__ import annotations

import functools
import json
import operator
from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsschema_spark.errors import ResolutionError, SchemaParseError
from jsschema_spark.pyvalidate import json_type_of
from jsschema_spark.resolver import RefResolver
from jsschema_spark.schema import FORBIDDEN, SchemaNode

# one cap on schema nesting ($ref inlining included) for both tiers
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


# a view's type test: folded at compile time (bool) or a runtime Column
Test = Union[bool, Column]


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


def _guard(test: Test):
    """Wrapper for keywords that apply to one JSON type only: None when the
    view rules the type out, identity when it is certain, else a runtime
    ``when(test, p).otherwise(True)``."""
    if test is False:
        return None
    if test is True:
        return lambda p: p
    return lambda p: F.when(test, p).otherwise(F.lit(True))


def _absent_ok(col: Column, preds: list[CompiledPredicate]) -> list[CompiledPredicate]:
    """Null-wrap: every predicate on a value passes when the value is absent."""
    return [
        CompiledPredicate(
            p.path, p.keyword,
            F.when(col.isNull(), F.lit(True)).otherwise(F.coalesce(p.pred, F.lit(False))),
            p.message,
        )
        for p in preds
    ]


class _TypedView:
    """A typed column of static Spark type ``dt``: type tests fold at
    compile time, values are read directly."""

    def __init__(self, col: Column, dt: T.DataType):
        self.col, self.dt = col, dt
        self.jtype = _json_type_of_spark(dt)

    def is_(self, t: str) -> Test:
        if t == self.jtype or (t == "number" and self.jtype == "integer"):
            return True
        if t == "integer" and self.jtype == "number":
            return self.col == F.floor(self.col)
        return False  # incl. "null": a present typed value is never null

    def type_test(self, t: str) -> Test:
        # datetimes serialize as strings in JSON
        return True if t == "string" and self.jtype == "datetime" else self.is_(t)

    # a typed column is its own number, string or boolean value, array of
    # elements (also its uniqueItems keys) and map of entries
    def number(self) -> Column:
        return self.col

    string = boolean = elems = unique_keys = entries = number

    def canonical(self) -> Column:
        return F.to_json(self.col)

    def member(self, x: Column) -> "_TypedView":
        """View of an array element or map value."""
        dt = self.dt.elementType if isinstance(self.dt, T.ArrayType) else self.dt.valueType
        return _TypedView(x, dt)

    def fields(self) -> Optional[list[str]]:
        return self.dt.fieldNames() if isinstance(self.dt, T.StructType) else None

    def child(self, name: str) -> "_TypedView":
        if isinstance(self.dt, T.StructType):
            return _TypedView(self.col.getField(name), self.dt[name].dataType)
        return _TypedView(F.element_at(self.col, F.lit(name)), self.dt.valueType)

    def has(self, name: str) -> Column:
        if isinstance(self.dt, T.MapType):
            return F.map_contains_key(self.col, name)
        return self.col.getField(name).isNotNull() if name in self.fields() else F.lit(False)


class _Compiler:
    """The keyword walker, over any view (``_TypedView`` or the Variant
    tier's ``_VariantView``)."""

    def __init__(self, resolver: RefResolver, enforce_formats: bool):
        self.resolver = resolver
        self.enforce_formats = enforce_formats

    def compile(self, s: SchemaNode, v, path: str, depth: int = 0) -> list[CompiledPredicate]:
        """Predicates for a *present* (non-null) value seen through view ``v``.

        Callers are responsible for the null wrap (absent ⇒ vacuous pass).
        """
        if depth > MAX_COMPILE_REF_DEPTH:
            raise CompileError(f"schema nesting too deep at {path} — use the generic path")
        if s.ref:
            try:
                target = self.resolver.resolve_node(s)
            except ResolutionError as e:
                raise CompileError(str(e)) from None
            return self.compile(target, v, path, depth + 1)

        preds: list[CompiledPredicate] = []
        if s.types:
            tests = [v.type_test(d) for d in s.types]
            if not any(t is True for t in tests):
                got = f", got {v.jtype}" if v.jtype else ""
                preds.append(
                    CompiledPredicate(path, "type", _or_all([t for t in tests if t is not False]),
                                      f"expected {s.types}{got}")
                )
        if s.enum is not None:
            preds.append(CompiledPredicate(path, "enum", self._enum(s.enum, v), "value not in enum"))
        preds += self._numeric(s, v, path)
        preds += self._string(s, v, path)
        preds += self._array(s, v, path, depth)
        preds += self._object(s, v, path, depth)

        # --- combinators
        for sub in s.all_of:
            preds.extend(self.compile(sub, v, path, depth + 1))
        if s.any_of:
            branches = [self._value_pred(b, v, path, depth + 1) for b in s.any_of]
            preds.append(CompiledPredicate(path, "anyOf", _or_all(branches), "no branch matched"))
        if s.one_of:
            branches = [self._value_pred(b, v, path, depth + 1) for b in s.one_of]
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
                    path, "not", ~self._value_pred(s.not_, v, path, depth + 1),
                    "matched forbidden schema",
                )
            )
        return preds

    # ------------------------------------------------------------------
    def _value_pred(self, s: SchemaNode, v, path: str, depth: int) -> Column:
        """Single null-safe conjunction for a value (used by combinators)."""
        preds = self.compile(s, v, path, depth)
        return F.coalesce(_and_all([p.pred for p in preds]), F.lit(False))

    def _present(self, s: SchemaNode, v, path: str, depth: int) -> Column:
        return F.when(v.col.isNull(), F.lit(True)).otherwise(self._value_pred(s, v, path, depth))

    def _each(self, s: SchemaNode, v, path: str, depth: int):
        """``forall`` lambda: an array element or map value of ``v`` satisfies
        ``s`` (null members pass)."""
        return lambda x: self._present(s, v.member(x), path, depth)

    def _enum(self, members: list, v) -> Column:
        """One branch per JSON type among the members, each behind the view's
        type test; types the view rules out drop their members."""
        by_type: dict[str, list] = {}
        for m in members:
            jt = json_type_of(m)
            by_type.setdefault("number" if jt == "integer" else jt, []).append(m)
        branches = []
        for jt, vals in by_type.items():
            test = v.is_(jt)
            if test is False:
                continue
            if jt == "null":
                hit = None
            elif jt in ("array", "object"):
                canon = [json.dumps(m, sort_keys=True, separators=(",", ":")) for m in vals]
                hit = v.canonical().isin(*canon)
            else:  # the view's number()/string()/boolean() reader
                hit = getattr(v, jt)().isin(*vals)
            # a folded test is only ever True for a non-null type
            branches.append(hit if test is True else test if hit is None else test & hit)
        return _or_all(branches)

    def _numeric(self, s: SchemaNode, v, path: str) -> list[CompiledPredicate]:
        if not s.multiple_of and s.minimum is None and s.maximum is None:
            return []
        g = _guard(v.is_("number"))
        if g is None:
            return []
        x, out = v.number(), []
        if s.multiple_of:
            if v.jtype == "integer" and float(s.multiple_of).is_integer():
                p = F.pmod(x, F.lit(int(s.multiple_of))) == 0
            else:
                # tolerance scales with ulp(q) (double spacing ≈ |q|·2e-16,
                # so a true multiple's computed q is within a few ulps of an
                # integer); 1e-9 floor absorbs decimal-literal error at small q
                q = x / F.lit(float(s.multiple_of))
                p = F.abs(q - F.round(q)) < F.greatest(F.lit(1e-9), F.abs(q) * F.lit(1e-14))
            out.append(CompiledPredicate(path, "multipleOf", g(p), f"not a multiple of {s.multiple_of}"))
        if s.minimum is not None:
            if s.exclusive_minimum:
                out.append(CompiledPredicate(
                    path, "exclusiveMinimum", g(x > F.lit(s.minimum)), f"<= {s.minimum}"))
            else:
                out.append(CompiledPredicate(path, "minimum", g(x >= F.lit(s.minimum)), f"< {s.minimum}"))
        if s.maximum is not None:
            if s.exclusive_maximum:
                out.append(CompiledPredicate(
                    path, "exclusiveMaximum", g(x < F.lit(s.maximum)), f">= {s.maximum}"))
            else:
                out.append(CompiledPredicate(path, "maximum", g(x <= F.lit(s.maximum)), f"> {s.maximum}"))
        return out

    def _string(self, s: SchemaNode, v, path: str) -> list[CompiledPredicate]:
        fmt = s.format if self.enforce_formats and s.format in _FORMAT_RLIKE else None
        if s.min_length is None and s.max_length is None and s.pattern is None and not fmt:
            return []
        g = _guard(v.is_("string"))
        if g is None:
            return []
        x, out = v.string(), []
        # F.length counts characters on strings
        if s.min_length is not None:
            out.append(CompiledPredicate(
                path, "minLength", g(F.length(x) >= s.min_length), f"shorter than {s.min_length}"))
        if s.max_length is not None:
            out.append(CompiledPredicate(
                path, "maxLength", g(F.length(x) <= s.max_length), f"longer than {s.max_length}"))
        if s.pattern is not None:
            out.append(CompiledPredicate(
                path, "pattern", g(x.rlike(s.pattern.pattern)), f"does not match {s.pattern.pattern!r}"))
        if fmt:
            p = x.rlike(_FORMAT_RLIKE[fmt])
            if fmt == "ipv6":
                p = p & x.contains(":")
            out.append(CompiledPredicate(path, "format", g(p), f"not a valid {fmt}"))
        return out

    def _array(self, s: SchemaNode, v, path: str, depth: int) -> list[CompiledPredicate]:
        if s.min_items is None and s.max_items is None and not s.unique_items and s.items is None:
            return []
        g = _guard(v.is_("array"))
        if g is None:
            return []
        xs, out = v.elems(), []
        if s.min_items is not None:
            out.append(CompiledPredicate(
                path, "minItems", g(F.size(xs) >= s.min_items), f"fewer than {s.min_items} items"))
        if s.max_items is not None:
            out.append(CompiledPredicate(
                path, "maxItems", g(F.size(xs) <= s.max_items), f"more than {s.max_items} items"))
        if s.unique_items:
            keys = v.unique_keys()
            out.append(CompiledPredicate(
                path, "uniqueItems", g(F.size(F.array_distinct(keys)) == F.size(keys)),
                "duplicate elements"))
        if s.items is None:
            return out
        if not s.items.tuple_mode:
            out.append(CompiledPredicate(
                path, "items", g(F.forall(xs, self._each(s.items.schemas[0], v, f"{path}[*]", depth + 1))),
                "element violates item schema"))
            return out
        arity = len(s.items.schemas)
        for i, sub in enumerate(s.items.schemas):
            at = f"{path}[{i}]"
            elem_ok = self._present(sub, v.member(F.element_at(xs, i + 1)), at, depth + 1)
            out.append(CompiledPredicate(
                at, "items", g(F.when(F.size(xs) > i, elem_ok).otherwise(F.lit(True))),
                "tuple element violates item schema"))
        if s.additional_items is FORBIDDEN:
            out.append(CompiledPredicate(
                path, "additionalItems", g(F.size(xs) <= arity), f"more than tuple arity {arity} items"))
        elif isinstance(s.additional_items, SchemaNode):
            rest = F.slice(xs, arity + 1, 2_147_483_647 - arity)
            out.append(CompiledPredicate(
                path, "additionalItems",
                g(F.forall(rest, self._each(s.additional_items, v, f"{path}[*]", depth + 1))),
                "additional element violates schema"))
        return out

    def _object(self, s: SchemaNode, v, path: str, depth: int) -> list[CompiledPredicate]:
        extra = s.additional_properties
        if not (
            s.required or s.properties or s.pattern_properties or extra is not None
            or s.min_properties is not None or s.max_properties is not None
            or s.dep_names or s.dep_schemas
        ):
            return []
        g = _guard(v.is_("object"))
        if g is None:
            return []
        out: list[CompiledPredicate] = []
        fields = v.fields()  # static key set (StructType), else None

        def known(name: str) -> bool:
            return name in s.properties or any(rx.search(name) for rx, _ in s.pattern_properties.values())

        for req in s.required:
            if fields is not None and req not in fields:
                out.append(CompiledPredicate(
                    f"{path}.{req}", "required", F.lit(False), f"column {req!r} missing from table schema"))
            else:
                out.append(CompiledPredicate(
                    f"{path}.{req}", "required", g(v.has(req)), f"missing required property {req!r}"))

        # named children; on a static key set patternProperties and an
        # additionalProperties schema resolve to named fields at compile time
        # (SURVEY §2.2 row 15)
        named = [(n, sub) for n, sub in s.properties.items() if fields is None or n in fields]
        if fields is not None:
            named += [(n, sub) for rx, sub in s.pattern_properties.values() for n in fields if rx.search(n)]
            if isinstance(extra, SchemaNode):
                named += [(n, extra) for n in fields if not known(n)]
        for name, sub in named:
            child = v.child(name)
            out += _absent_ok(child.col, self.compile(sub, child, f"{path}.{name}", depth + 1))

        if fields is not None:
            # a closed StructType has no unknown keys unless the schema
            # forbids a field the table actually has
            if extra is FORBIDDEN:
                out += [
                    CompiledPredicate(f"{path}.{n}", "additionalProperties", v.child(n).col.isNull(),
                                      f"unexpected property {n!r}")
                    for n in fields if not known(n)
                ]
        elif s.pattern_properties or extra is not None:
            m = v.entries()
            for src, (_rx, sub) in s.pattern_properties.items():
                ok = self._each(sub, v, f"{path}.<{src}>", depth + 1)
                p = F.forall(F.map_entries(m), lambda e: F.when(~e.getField("key").rlike(src), F.lit(True))
                             .otherwise(ok(e.getField("value"))))
                out.append(CompiledPredicate(path, "patternProperties", g(p), f"patternProperties {src!r} violated"))
            if extra is not None:
                names, rxs = list(s.properties), list(s.pattern_properties)

                def key_known(k: Column) -> Column:
                    return _or_all(([k.isin(*names)] if names else []) + [k.rlike(r) for r in rxs])

                if extra is FORBIDDEN:
                    p = F.forall(F.map_keys(m), key_known)
                else:
                    ok = self._each(extra, v, f"{path}.<additional>", depth + 1)
                    p = F.forall(F.map_entries(m), lambda e: key_known(e.getField("key")) | ok(e.getField("value")))
                out.append(CompiledPredicate(path, "additionalProperties", g(p), "unexpected properties"))

        # property-count keywords: on a struct, "present" ≡ non-null field
        if s.min_properties is not None or s.max_properties is not None:
            if fields is None:
                n_keys = F.size(v.entries())
            else:
                n_keys = functools.reduce(
                    operator.add, [F.when(v.has(f), F.lit(1)).otherwise(F.lit(0)) for f in fields])
            if s.min_properties is not None:
                out.append(CompiledPredicate(path, "minProperties", g(n_keys >= s.min_properties),
                                             f"fewer than {s.min_properties} properties"))
            if s.max_properties is not None:
                out.append(CompiledPredicate(path, "maxProperties", g(n_keys <= s.max_properties),
                                             f"more than {s.max_properties} properties"))

        for pname, deplist in s.dep_names.items():
            if fields is not None and pname not in fields:
                continue
            for d in deplist:
                out.append(CompiledPredicate(
                    path, "dependencies", g(F.when(v.has(pname), v.has(d)).otherwise(F.lit(True))),
                    f"{pname!r} requires {d!r}"))
        for pname, dschema in s.dep_schemas.items():
            if fields is not None and pname not in fields:
                continue
            inner = self._value_pred(dschema, v, path, depth + 1)
            out.append(CompiledPredicate(
                path, "dependencies", g(F.when(v.has(pname), inner).otherwise(F.lit(True))),
                f"{pname!r} schema dependency violated"))
        return out


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


class _CompiledColumns:
    """``valid`` and ``violations`` Columns over ``self.predicates``, built
    lazily, once per validator, for both Catalyst tiers."""

    predicates: list[CompiledPredicate]

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


class TableValidator(_CompiledColumns):
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
        self.predicates: list[CompiledPredicate] = compiler.compile(
            schema, _TypedView(row_col, df_schema), "$"
        )

    # -- columns ---------------------------------------------------------
    def valid_column(self) -> Column:
        return self._valid

    def violations_column(self) -> Column:
        return self._violations

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
