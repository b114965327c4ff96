"""UC DataType ↔ pyspark.sql.types mapping and schema comparison.

Parity: /root/reference/uchelper/dataframe.py:23-169 implements the
same four conversions for Polars dtypes; ours targets Spark types.
The mapping is 1:1 because the UC enum is Spark's own type system
(SURVEY.md §1.2).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import types as T

from .exceptions import SchemaMismatchError, UnsupportedOperationError
from .models import Column, DataType

# ---------------------------------------------------------------------------
# Spark type -> UC DataType
# ---------------------------------------------------------------------------

_SIMPLE_SPARK_TO_UC: dict[type, DataType] = {
    T.BooleanType: DataType.BOOLEAN,
    T.ByteType: DataType.BYTE,
    T.ShortType: DataType.SHORT,
    T.IntegerType: DataType.INT,
    T.LongType: DataType.LONG,
    T.FloatType: DataType.FLOAT,
    T.DoubleType: DataType.DOUBLE,
    T.DateType: DataType.DATE,
    T.TimestampType: DataType.TIMESTAMP,
    T.TimestampNTZType: DataType.TIMESTAMP_NTZ,
    T.StringType: DataType.STRING,
    T.BinaryType: DataType.BINARY,
    T.NullType: DataType.NULL,
    T.DayTimeIntervalType: DataType.INTERVAL,
    T.YearMonthIntervalType: DataType.INTERVAL,
    T.ArrayType: DataType.ARRAY,
    T.StructType: DataType.STRUCT,
    T.MapType: DataType.MAP,
    T.CharType: DataType.CHAR,
    T.VarcharType: DataType.STRING,
}


def spark_type_to_uc_type(
    dtype: T.DataType,
) -> tuple[DataType, Optional[int], Optional[int]]:
    """Spark DataType → (UC DataType, precision, scale).

    Parity: polars_type_to_uc_type, /root/reference/uchelper/dataframe.py:23-70.
    """
    if isinstance(dtype, T.DecimalType):
        return DataType.DECIMAL, dtype.precision, dtype.scale
    uc = _SIMPLE_SPARK_TO_UC.get(type(dtype))
    if uc is None:
        raise UnsupportedOperationError(
            f"Unsupported Spark data type: {dtype.simpleString()}"
        )
    return uc, None, None


def spark_schema_to_uc_columns(
    schema: T.StructType, partition_cols: Optional[list[str]] = None
) -> list[Column]:
    """Whole StructType → list[Column] with positions + partition indexes.

    Parity: df_schema_to_uc_schema, /root/reference/uchelper/dataframe.py:73-97
    (which emits all columns nullable=True; we keep real nullability but
    schema comparison ignores it, matching dataframe.py:144-159).
    """
    partition_cols = partition_cols or []
    cols: list[Column] = []
    for pos, field in enumerate(schema.fields):
        uc_type, prec, scale = spark_type_to_uc_type(field.dataType)
        part_idx = (
            partition_cols.index(field.name) if field.name in partition_cols else None
        )
        cols.append(
            Column(
                name=field.name,
                data_type=uc_type,
                type_precision=prec,
                type_scale=scale,
                position=pos,
                nullable=field.nullable,
                partition_index=part_idx,
                type_text=field.dataType.simpleString(),
            )
        )
    return cols


# ---------------------------------------------------------------------------
# UC DataType -> Spark type
# ---------------------------------------------------------------------------

_SIMPLE_UC_TO_SPARK: dict[DataType, T.DataType] = {
    DataType.BOOLEAN: T.BooleanType(),
    DataType.BYTE: T.ByteType(),
    DataType.SHORT: T.ShortType(),
    DataType.INT: T.IntegerType(),
    DataType.LONG: T.LongType(),
    DataType.FLOAT: T.FloatType(),
    DataType.DOUBLE: T.DoubleType(),
    DataType.DATE: T.DateType(),
    DataType.TIMESTAMP: T.TimestampType(),
    DataType.TIMESTAMP_NTZ: T.TimestampNTZType(),
    DataType.STRING: T.StringType(),
    DataType.BINARY: T.BinaryType(),
    DataType.NULL: T.NullType(),
    DataType.CHAR: T.StringType(),  # CHAR→String, parity dataframe.py:133
}


def uc_type_to_spark_type(col: Column) -> T.DataType:
    """UC Column → Spark DataType.

    Parity: uc_type_to_polars_type, /root/reference/uchelper/dataframe.py:100-137.
    Nested types round-trip through the stored ``type_text`` simpleString
    (the reference cannot round-trip these at all — dataframe.py:136-137).
    """
    if col.data_type == DataType.DECIMAL:
        return T.DecimalType(col.type_precision or 10, col.type_scale or 0)
    if col.data_type in (DataType.ARRAY, DataType.STRUCT, DataType.MAP):
        if col.type_text:
            return parse_type_text(col.type_text)
        raise UnsupportedOperationError(
            f"Nested column {col.name} has no stored type_text"
        )
    spark = _SIMPLE_UC_TO_SPARK.get(col.data_type)
    if spark is None:
        raise UnsupportedOperationError(
            f"Unsupported UC data type: {col.data_type.value}"
        )
    return spark


def parse_type_text(type_text: str) -> T.DataType:
    """Parse a Spark DDL/simpleString type, e.g. ``array<float>``."""
    try:
        struct = T.StructType.fromDDL(f"c {type_text}")
        return struct.fields[0].dataType
    except Exception as exc:  # pragma: no cover - defensive
        raise UnsupportedOperationError(
            f"Cannot parse type text {type_text!r}: {exc}"
        ) from exc


def uc_columns_to_spark_schema(columns: list[Column]) -> T.StructType:
    """list[Column] → StructType, position-ordered.

    Parity: uc_schema_to_df_schema, /root/reference/uchelper/dataframe.py:140-141.
    """
    fields = [
        T.StructField(c.name, uc_type_to_spark_type(c), c.nullable)
        for c in sorted(columns, key=lambda c: c.position)
    ]
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Schema comparison
# ---------------------------------------------------------------------------


def schemas_equal(left: list[Column], right: list[Column]) -> bool:
    """Same length; per position-sorted column: same name, data_type, for
    DECIMAL same precision+scale, and for ARRAY/STRUCT/MAP the same
    element types (from ``type_text``, when both sides have one).
    Nullability and partition_index are NOT compared. Parity:
    /root/reference/uchelper/dataframe.py:144-159.
    """
    if len(left) != len(right):
        return False
    ls = sorted(left, key=lambda c: c.position)
    rs = sorted(right, key=lambda c: c.position)
    for a, b in zip(ls, rs):
        if a.name != b.name or a.data_type != b.data_type:
            return False
        if a.data_type == DataType.DECIMAL and (
            a.type_precision != b.type_precision or a.type_scale != b.type_scale
        ):
            return False
        if (
            a.data_type in (DataType.ARRAY, DataType.STRUCT, DataType.MAP)
            and a.type_text
            and b.type_text
            and parse_type_text(a.type_text).simpleString()
            != parse_type_text(b.type_text).simpleString()
        ):
            return False
    return True


def check_schemas_equal(df_cols: list[Column], table_cols: list[Column]) -> None:
    """Raise SchemaMismatchError on mismatch.

    Parity: check_schema_equality usage, /root/reference/uchelper/dataframe.py:162-169.
    """
    if not schemas_equal(df_cols, table_cols):
        raise SchemaMismatchError(
            "DataFrame schema does not match table schema: "
            f"df={[(c.name, c.data_type.value) for c in df_cols]} vs "
            f"table={[(c.name, c.data_type.value) for c in table_cols]}"
        )


def check_no_type_changes(
    df_cols: list[Column], table_cols: Optional[list[Column]], what: str
) -> None:
    """Raise SchemaMismatchError when a column present on both sides
    changes its type: the rule of every schema evolution that keeps
    existing files (a MERGE evolution, a dynamic partition overwrite),
    whose old files could no longer be read as the new type. Added
    columns pass."""
    t_types = {
        c.name: (c.data_type, c.type_precision, c.type_scale)
        for c in (table_cols or [])
    }
    mismatched = [
        c.name
        for c in df_cols
        if c.name in t_types
        and (c.data_type, c.type_precision, c.type_scale) != t_types[c.name]
    ]
    if mismatched:
        raise SchemaMismatchError(
            f"{what}: overlapping columns {mismatched} do not match the "
            "table types"
        )
