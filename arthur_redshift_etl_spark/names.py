"""Identifiers and selection patterns.

Reference parity: ``python/etl/names.py`` (TableName :31-293, TempTableName
:296-357, TableSelector :360-553).  Two-part, case-insensitive identifiers
with staging/backup awareness and glob-based selection used by every command.

Pure Python — no Spark dependency.
"""

from __future__ import annotations

import fnmatch
import uuid
from typing import Iterable, Optional, Sequence

# Prefixes for the blue-green deployment databases (reference: names.py:21-28
# uses "etl_staging$X" / "etl_backup$X"; Spark catalog database names cannot
# contain "$", so we use double-underscore prefixes).
STAGING_PREFIX = "etl_staging__"
BACKUP_PREFIX = "etl_backup__"


def as_staging(schema: str) -> str:
    return STAGING_PREFIX + schema


def as_backup(schema: str) -> str:
    return BACKUP_PREFIX + schema


def is_staging(schema: str) -> bool:
    return schema.startswith(STAGING_PREFIX)


class TableName:
    """Case-insensitive two-part identifier ``schema.table``.

    >>> tn = TableName("DW", "Fact_Orders")
    >>> tn.identifier
    'dw.fact_orders'
    >>> tn == TableName("dw", "FACT_ORDERS")
    True
    >>> TableName.from_identifier("dw.fact_orders").schema
    'dw'
    >>> tn.as_staging().identifier
    'etl_staging__dw.fact_orders'
    """

    __slots__ = ("_schema", "_table")

    def __init__(self, schema: str, table: str) -> None:
        self._schema = schema.lower()
        self._table = table.lower()

    @classmethod
    def from_identifier(cls, identifier: str) -> "TableName":
        parts = identifier.split(".")
        if len(parts) != 2 or not all(parts):
            raise ValueError(f"bad table identifier: {identifier!r}")
        return cls(parts[0], parts[1])

    @property
    def schema(self) -> str:
        return self._schema

    @property
    def table(self) -> str:
        return self._table

    @property
    def identifier(self) -> str:
        return f"{self._schema}.{self._table}"

    def quoted(self) -> str:
        """Backtick-quoted Spark SQL identifier."""
        return f"`{self._schema}`.`{self._table}`"

    def as_staging(self) -> "TableName":
        return TableName(as_staging(self._schema), self._table)

    def as_backup(self) -> "TableName":
        return TableName(as_backup(self._schema), self._table)

    @property
    def is_staging(self) -> bool:
        return is_staging(self._schema)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, TableName) and self.identifier == other.identifier

    def __hash__(self) -> int:
        return hash(self.identifier)

    def __lt__(self, other: "TableName") -> bool:
        return self.identifier < other.identifier

    def __repr__(self) -> str:
        return f"TableName({self.identifier!r})"

    def __str__(self) -> str:
        return self.identifier


class TempTableName(TableName):
    """Session-scoped temp name (reference: names.py:296-357 ``#schema$table``).

    In Spark these map to temp views, which live in a flat namespace; we embed
    the schema into the view name.

    >>> t = TempTableName.for_table(TableName("dw", "fact"))
    >>> t.spark_view_name.startswith('tmp_dw_fact_')
    True
    """

    __slots__ = ("_token",)

    def __init__(self, schema: str, table: str) -> None:
        super().__init__(schema, table)
        self._token = uuid.uuid4().hex[:8]

    @classmethod
    def for_table(cls, table_name: TableName) -> "TempTableName":
        return cls(table_name.schema, table_name.table)

    @property
    def spark_view_name(self) -> str:
        return f"tmp_{self._schema}_{self._table}_{self._token}"


class TableSelector:
    """Glob patterns over ``schema.table`` identifiers.

    Reference: names.py:360-553.  Patterns are one of:
    ``schema.table`` globs, bare ``schema`` (matches whole schema), or empty
    (matches everything within the base-schema scope).

    >>> sel = TableSelector(["dw.fact_*", "analytics"])
    >>> sel.match(TableName("dw", "fact_orders"))
    True
    >>> sel.match(TableName("dw", "dim_customer"))
    False
    >>> sel.match(TableName("analytics", "anything"))
    True
    >>> TableSelector([]).match(TableName("x", "y"))
    True
    >>> scoped = TableSelector([], base_schemas=["dw"])
    >>> scoped.match(TableName("other", "t"))
    False
    """

    def __init__(
        self,
        patterns: Sequence[str] = (),
        base_schemas: Optional[Sequence[str]] = None,
    ) -> None:
        self._patterns = []
        for p in patterns:
            p = p.lower()
            if "." in p:
                schema_pat, table_pat = p.split(".", 1)
            else:
                schema_pat, table_pat = p, "*"
            if not schema_pat or not table_pat:
                raise ValueError(f"bad selection pattern: {p!r}")
            self._patterns.append((schema_pat, table_pat))
        self._base_schemas = [s.lower() for s in base_schemas] if base_schemas else None

    @property
    def patterns(self) -> list:
        return [f"{s}.{t}" for s, t in self._patterns]

    def match_schema(self, schema: str) -> bool:
        schema = schema.lower()
        if self._base_schemas is not None and not any(
            fnmatch.fnmatchcase(schema, b) for b in self._base_schemas
        ):
            return False
        if not self._patterns:
            return True
        return any(fnmatch.fnmatchcase(schema, s) for s, _ in self._patterns)

    def match(self, table_name: TableName) -> bool:
        if self._base_schemas is not None and not any(
            fnmatch.fnmatchcase(table_name.schema, b) for b in self._base_schemas
        ):
            return False
        if not self._patterns:
            return True
        return any(
            fnmatch.fnmatchcase(table_name.schema, s)
            and fnmatch.fnmatchcase(table_name.table, t)
            for s, t in self._patterns
        )

    def select(self, names: Iterable[TableName]) -> list:
        return [n for n in names if self.match(n)]

    def __repr__(self) -> str:
        return f"TableSelector({self.patterns!r}, base_schemas={self._base_schemas!r})"
