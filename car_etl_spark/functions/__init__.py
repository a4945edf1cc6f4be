"""Pure Column-expression function libraries (no UDFs in the hot path)."""

from car_etl_spark.functions import literals, normalizers, text, vectors  # noqa: F401
