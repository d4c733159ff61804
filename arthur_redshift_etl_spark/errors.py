"""Engine exception hierarchy.

Reference parity: ``python/etl/errors.py`` — the reference distinguishes
transient (retriable) failures from permanent ones and has dedicated errors
for constraint violations, cyclic dependencies, and missing relations.
"""

from __future__ import annotations


class ETLError(Exception):
    """Base class for all engine errors."""


class ETLConfigError(ETLError):
    """Invalid configuration, table design, or selection."""


class ETLRuntimeError(ETLError):
    """Failure while executing against data."""


class TransientETLError(ETLRuntimeError):
    """Retriable failure (reference: util/retry.py + retriable pgcodes)."""


class TableDesignError(ETLConfigError):
    """Table design failed syntactic or semantic validation."""


class TableDesignSyntaxError(TableDesignError):
    pass


class TableDesignSemanticError(TableDesignError):
    pass


class CyclicDependencyError(ETLConfigError):
    """Dependency DAG contains a cycle (reference: relation.py:586-587)."""


class MissingQueryError(ETLConfigError):
    """CTAS/VIEW relation has no SQL query."""


class FailedConstraintError(ETLRuntimeError):
    """A declared constraint does not hold in the data.

    Carries up to 5 sample duplicate key rows (reference: load.py:587-634).
    """

    def __init__(self, identifier: str, constraint_type: str, columns, examples) -> None:
        self.identifier = identifier
        self.constraint_type = constraint_type
        self.columns = list(columns)
        self.examples = examples
        super().__init__(
            f"relation {identifier} violates {constraint_type} constraint on "
            f"({', '.join(self.columns)}); examples: {examples}"
        )


class MissingRelationError(ETLRuntimeError):
    pass


class RequiredRelationLoadError(ETLRuntimeError):
    """A relation marked required-for-success failed to build."""

    def __init__(self, failed_identifiers) -> None:
        self.failed = list(failed_identifiers)
        super().__init__(f"required relation(s) failed: {', '.join(self.failed)}")


class DataUnloadError(ETLRuntimeError):
    pass
