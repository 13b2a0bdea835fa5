"""Schema-atom row rules — the JSON-Schema constraint vocabulary re-expressed
as Spark SQL predicates.

Mapping from the reference's contract atoms (SURVEY.md §2.2):
  required        → NotNull        (ref: transcript-v2.schema.json:7)
  const           → Const          (ref: transcript-v2.schema.json:9-13, schema_version const 2)
  enum            → Enum/isin      (ref: transcript-v2.schema.json:196-200,528-532)
  pattern         → Pattern/rlike  (ref: transcript-v2.schema.json:19-24 — language ^[a-z]{2}(-[A-Z]{2})?$)
  minimum/maximum → Range          (ref: transcript-v2.schema.json:408-417,445-451)
  minLength       → Length         (ref: transcript-v2.schema.json:14-18)

Each predicate is null-safe: a NULL value FAILS every rule except where the
rule is explicitly nullable (``allow_null=True``, mirroring the reference's
pervasive ``oneOf: [null, X]`` unions).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import RowRule, _str, sql_ident


class NotNull(RowRule):
    def __init__(self, column: str, rule_id: str | None = None):
        self.column = column
        self.rule_id = rule_id or f"not_null({column})"

    def spec(self) -> dict[str, Any]:
        return {"type": "not_null", "column": self.column, "rule_id": self.rule_id}

    def predicate(self) -> Column:
        return F.col(self.column).isNotNull()

    def observed(self) -> Column:
        return F.lit("NULL")

    def expected(self) -> Column:
        return F.lit("non-null")


class _NullableRowRule(RowRule):
    """Shared null handling: if allow_null, NULL passes; else NULL fails."""

    column: str
    allow_null: bool

    def _wrap(self, core: Column) -> Column:
        null_verdict = F.lit(bool(self.allow_null))
        return F.when(F.col(self.column).isNull(), null_verdict).otherwise(
            F.coalesce(core, F.lit(False))
        )

    def observed(self) -> Column:
        return _str(F.col(self.column))


class Const(_NullableRowRule):
    def __init__(self, column: str, value: Any, rule_id: str | None = None, allow_null: bool = False):
        self.column = column
        self.value = value
        self.allow_null = allow_null
        self.rule_id = rule_id or f"const({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "const",
            "column": self.column,
            "value": self.value,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        return self._wrap(F.col(self.column) == F.lit(self.value))

    def expected(self) -> Column:
        return F.lit(f"== {self.value!r}")


class Enum(_NullableRowRule):
    def __init__(self, column: str, values: list[Any], rule_id: str | None = None, allow_null: bool = False):
        self.column = column
        self.values = list(values)
        self.allow_null = allow_null
        self.rule_id = rule_id or f"enum({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "enum",
            "column": self.column,
            "values": sorted(map(str, self.values)),
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        return self._wrap(F.col(self.column).isin(self.values))

    def expected(self) -> Column:
        return F.lit("in " + repr(sorted(map(str, self.values))))


class Pattern(_NullableRowRule):
    def __init__(self, column: str, pattern: str, rule_id: str | None = None, allow_null: bool = False):
        self.column = column
        self.pattern = pattern
        self.allow_null = allow_null
        self.rule_id = rule_id or f"pattern({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "pattern",
            "column": self.column,
            "pattern": self.pattern,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        return self._wrap(F.col(self.column).rlike(self.pattern))

    def expected(self) -> Column:
        return F.lit(f"matches /{self.pattern}/")


class TypeCheck(_NullableRowRule):
    """JSON-Schema ``type`` atom (P2): the value must be castable to the
    target Spark type. Compiled to a ``try_cast`` residual — a value fails
    iff ``try_cast(col AS dtype)`` is NULL while the value itself is not
    (ref type atoms: transcript-v2.schema.json passim; isinstance checks
    transcription/receipt.py:305-344). Pure expression, folds into pass 1
    like every schema atom; no Python, ANSI-safe (try_cast never raises)."""

    def __init__(
        self,
        column: str,
        dtype: str,
        rule_id: str | None = None,
        allow_null: bool = False,
    ):
        self.column = column
        self.dtype = dtype
        self.allow_null = allow_null
        self.rule_id = rule_id or f"type({column}:{dtype})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "type_check",
            "column": self.column,
            "dtype": self.dtype,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        cast_ok = F.expr(f"try_cast({sql_ident(self.column)} AS {self.dtype})").isNotNull()
        return self._wrap(cast_ok)

    def expected(self) -> Column:
        return F.lit(f"castable to {self.dtype}")


class Range(_NullableRowRule):
    """min/max bounds on numeric or timestamp columns (inclusive)."""

    def __init__(
        self,
        column: str,
        min: Any = None,
        max: Any = None,
        rule_id: str | None = None,
        allow_null: bool = False,
    ):
        if min is None and max is None:
            raise ValueError("Range rule needs at least one bound")
        self.column = column
        self.min = min
        self.max = max
        self.allow_null = allow_null
        self.rule_id = rule_id or f"range({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "range",
            "column": self.column,
            "min": str(self.min) if self.min is not None else None,
            "max": str(self.max) if self.max is not None else None,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        c = F.col(self.column)
        core = F.lit(True)
        if self.min is not None:
            core = core & (c >= F.lit(self.min))
        if self.max is not None:
            core = core & (c <= F.lit(self.max))
        return self._wrap(core)

    def expected(self) -> Column:
        lo = "-inf" if self.min is None else str(self.min)
        hi = "+inf" if self.max is None else str(self.max)
        return F.lit(f"in [{lo}, {hi}]")


class Length(_NullableRowRule):
    """String/binary/array length bounds. For binary columns Spark's
    ``length`` returns byte length; for arrays use ``size`` via kind='array'."""

    def __init__(
        self,
        column: str,
        min: int | None = None,
        max: int | None = None,
        kind: str = "string",
        rule_id: str | None = None,
        allow_null: bool = False,
    ):
        if min is None and max is None:
            raise ValueError("Length rule needs at least one bound")
        self.column = column
        self.min = min
        self.max = max
        self.kind = kind
        self.allow_null = allow_null
        self.rule_id = rule_id or f"length({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "length",
            "column": self.column,
            "min": self.min,
            "max": self.max,
            "kind": self.kind,
            "allow_null": self.allow_null,
            "rule_id": self.rule_id,
        }

    def _len(self) -> Column:
        c = F.col(self.column)
        return F.size(c) if self.kind == "array" else F.length(c)

    def predicate(self) -> Column:
        n = self._len()
        core = F.lit(True)
        if self.min is not None:
            core = core & (n >= F.lit(self.min))
        if self.max is not None:
            core = core & (n <= F.lit(self.max))
        return self._wrap(core)

    def observed(self) -> Column:
        return _str(F.concat(F.lit("len="), self._len().cast("string")))

    def expected(self) -> Column:
        lo = "0" if self.min is None else str(self.min)
        hi = "inf" if self.max is None else str(self.max)
        return F.lit(f"length in [{lo}, {hi}]")
