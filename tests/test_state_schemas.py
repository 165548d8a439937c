"""No keyed state under tokforge/streaming is a nested array: every state
schema handed to ``applyInPandasWithState`` holds flat columns only
(``array<scalar>`` or ``binary``), so no operator pickles a table value by
value across the Python boundary.  No Spark: each call's state argument is
found in the source and evaluated in its module."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

from pyspark.sql.types import ArrayType, DataType, MapType, StructType

import tokforge.streaming

STREAMING = Path(tokforge.streaming.__file__).parent


def _state_args(tree: ast.Module):
    """(enclosing class name or None, state-schema source) per
    ``applyInPandasWithState`` call."""
    owner = {}
    for cls in (n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)):
        for n in ast.walk(cls):
            owner[n] = cls.name
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "applyInPandasWithState"
        ):
            arg = n.args[2] if len(n.args) > 2 else next(
                k.value for k in n.keywords if k.arg == "stateStructType"
            )
            yield owner.get(n), ast.unparse(arg)


def _state_schemas() -> dict:
    """Every state schema the streaming operators hand to Spark; a
    ``self``-rooted argument is evaluated for each instance of its class
    that the module defines (e.g. both cache namespaces)."""
    out = {}
    for path in sorted(STREAMING.glob("*.py")):
        mod = importlib.import_module(f"tokforge.streaming.{path.stem}")
        for cls, src in _state_args(ast.parse(path.read_text())):
            if cls is None:
                out[f"{path.stem}: {src}"] = eval(src, vars(mod))  # noqa: S307
                continue
            owners = {k: v for k, v in vars(mod).items() if isinstance(v, getattr(mod, cls))}
            assert owners, f"{path.stem}.{cls} defines no instance to evaluate {src}"
            for name, v in owners.items():
                out[f"{path.stem}.{name}: {src}"] = eval(src, vars(mod), {"self": v})  # noqa: S307
    return out


def _nested_array(dt: DataType, in_array: bool = False) -> bool:
    if isinstance(dt, ArrayType):
        return in_array or _nested_array(dt.elementType, True)
    if isinstance(dt, StructType):
        return any(_nested_array(f.dataType, in_array) for f in dt.fields)
    if isinstance(dt, MapType):
        return _nested_array(dt.keyType, in_array) or _nested_array(dt.valueType, in_array)
    return False


def test_no_nested_array_keyed_state():
    schemas = _state_schemas()
    # both cache namespaces, the LSH index, rate limit, the two CEP detectors
    assert len(schemas) >= 6, sorted(schemas)
    for where, schema in schemas.items():
        assert isinstance(schema, StructType), where
        assert not _nested_array(schema), f"{where}: {schema.simpleString()}"


def test_nested_array_is_detected():
    """The guard itself: a nested-list state like the LSH index's earlier
    ``array<array<long>>`` signatures is caught, also behind a struct."""
    from pyspark.sql.types import LongType, StructField

    nested = StructType([StructField("sigs", ArrayType(ArrayType(LongType())))])
    assert _nested_array(nested)
    assert _nested_array(ArrayType(StructType([StructField("a", ArrayType(LongType()))])))
    assert not _nested_array(StructType([StructField("ts", ArrayType(LongType()))]))
