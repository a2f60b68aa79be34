"""PEP-249 exception hierarchy (reference: opteryx exposes typed errors
on the module per DBAPI; ``opteryx/exceptions.py``), and :func:`boundary`,
the one place that decides which class a Spark failure becomes."""

from __future__ import annotations

from contextlib import contextmanager

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.errors.exceptions.captured import CapturedException


class Warning(Exception):  # noqa: A001 - PEP-249 name
    pass


class Error(Exception):
    pass


class InterfaceError(Error):
    pass


class DatabaseError(Error):
    pass


class DataError(DatabaseError):
    pass


class OperationalError(DatabaseError):
    pass


class IntegrityError(DatabaseError):
    pass


class InternalError(DatabaseError):
    pass


class ProgrammingError(DatabaseError):
    """Bad SQL, missing table/column, mis-bound parameters."""


class NotSupportedError(DatabaseError):
    pass


# PEP-249 class by SQLSTATE class, the first two characters of a SQLSTATE
_BY_SQLSTATE_CLASS = {
    "42": ProgrammingError, "22": DataError, "KD": DataError,
    "0A": NotSupportedError, "23": IntegrityError,
}


def _spark_states(exc: BaseException):
    """``(sqlstate, condition, message)`` of a captured PySpark exception, or
    of each Spark throwable along a ``Py4JJavaError``'s cause chain."""
    if isinstance(exc, CapturedException):
        yield exc.getSqlState(), exc.getCondition(), str(exc)
    elif isinstance(exc, Py4JJavaError):
        java, depth = exc.java_exception, 0
        while java is not None and depth < 16:  # bounded: a cause chain can cycle
            if is_instance_of(SparkContext._gateway, java, "org.apache.spark.SparkThrowable"):
                yield java.getSqlState(), java.getCondition(), java.getMessage()
            java, depth = java.getCause(), depth + 1


def condition(exc: BaseException) -> str | None:
    """The first error condition along a Spark failure's cause chain."""
    return next((cond for _, cond, _ in _spark_states(exc) if cond), None)


@contextmanager
def boundary():
    """Raise a Spark failure as the class of its SQLSTATE (else analysis and
    parse failures as ``ProgrammingError``, the rest as ``OperationalError``)
    and the OS errors of dataset resolution as ``DataError``, each with the
    original as ``__cause__``; any other exception propagates unchanged."""
    try:
        yield
    except (FileNotFoundError, IsADirectoryError, PermissionError) as exc:
        raise DataError(str(exc)) from exc
    except (CapturedException, Py4JJavaError) as exc:
        state, message = next(((s, m) for s, _, m in _spark_states(exc) if s), ("", str(exc)))
        other = ProgrammingError if isinstance(exc, AnalysisException) else OperationalError
        raise _BY_SQLSTATE_CLASS.get(state[:2], other)(message) from exc
