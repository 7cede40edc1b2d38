"""The ``Legend`` facade — the reference's public API, Python-first.

Re-exposes the contract of ``Legend.scala`` / ``python/legend/delta.py``
(SURVEY §2.D): ``get_schema``, ``get_transformations``, ``get_expectations``,
``get_derivations``, ``get_table``, ``create_table``, ``query``,
``generate_sql``, ``get_entity_names`` — plus snake/camel aliases matching
the reference Python shim.

Everything before ``spark.sql``/reads/writes is driver-side metadata
compilation (no Spark jobs); execution is one declarative SQL statement so
Catalyst owns pushdown/pruning/codegen at any scale.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import schema as schema_mod
from .derivations import entity_derivations, mapping_derivations
from .expectations import entity_expectations, mapping_expectations
from .model.entities import LegendModelError
from .model.loader import LegendModel, load_dicts, load_resources
from .plans.query import mapping_sql, service_sql


class Legend:
    def __init__(self, model: LegendModel, spark: SparkSession | None = None):
        self.model = model
        self._spark = spark

    # -- construction --------------------------------------------------------

    @staticmethod
    def from_directory(path: str, spark: SparkSession | None = None) -> "Legend":
        return Legend(load_resources(path), spark)

    @staticmethod
    def from_entities(entities: Iterable[dict[str, Any]],
                      spark: SparkSession | None = None) -> "Legend":
        return Legend(load_dicts(entities), spark)

    @property
    def spark(self) -> SparkSession:
        if self._spark is not None:
            return self._spark
        return SparkSession.active()

    # -- metadata API ---------------------------------------------------------

    def get_entity_names(self) -> list[str]:
        return self.model.entity_names()

    def get_schema(self, path: str, lossless: bool = False) -> T.StructType:
        """Entity path -> StructType; mapping path -> renamed StructType."""
        if path in self.model.mappings:
            return schema_mod.mapping_schema(self.model, path, lossless=lossless)
        return schema_mod.schema_for(self.model, path, lossless=lossless)

    def get_transformations(self, mapping_path: str) -> dict[str, str]:
        """Property -> physical column map (``LegendUtils.scala:342-356``)."""
        return dict(self.model.get_mapping(mapping_path).property_columns)

    def get_expectations(self, path: str, compile_sql: bool | None = None) -> dict[str, str]:
        """Mapping path -> SQL rules; entity path -> PURE rules (reference
        discriminates the same way: SQL needs a table binding)."""
        if path in self.model.mappings:
            return mapping_expectations(
                self.model, path, True if compile_sql is None else compile_sql)
        return entity_expectations(
            self.model, path, False if compile_sql is None else compile_sql)

    def get_derivations(self, path: str, compile_sql: bool | None = None) -> dict[str, str]:
        if path in self.model.mappings:
            return mapping_derivations(
                self.model, path, True if compile_sql is None else compile_sql)
        return entity_derivations(
            self.model, path, False if compile_sql is None else compile_sql)

    def get_table(self, mapping_path: str) -> str:
        """Mapping's main table, ``schema.table`` (``LegendUtils.scala:358-361``)."""
        m = self.model.get_mapping(mapping_path)
        return f"{m.table_schema}.{m.table_name}" if m.table_schema else m.table_name

    # -- SQL / execution ------------------------------------------------------

    def generate_sql(self, path: str) -> str:
        """Mapping or service path -> one Spark SQL SELECT string."""
        if path in self.model.mappings:
            mapping = self.model.get_mapping(path)
            return mapping_sql(self.model, mapping)
        if path in self.model.services:
            service = self.model.get_service(path)
            mapping = self.model.get_mapping(service.mapping_path)
            cls = self.model.get_class(mapping.class_path)
            return service_sql(self.model, service, mapping.qualified_table,
                               cls, mapping.property_columns)
        if path in self.model.raw:
            kind = self.model.raw[path].get("_type", "unknown")
            raise LegendModelError(
                f"[{path}] is a {kind} entity — query/generate_sql need a "
                f"mapping or a service (use query_pure for ad-hoc lambdas "
                f"over a class)")
        raise LegendModelError(
            f"unknown entity [{path}] — known mappings: "
            f"{sorted(self.model.mappings) or '(none)'}; services: "
            f"{sorted(self.model.services) or '(none)'}")

    def query(self, path: str) -> DataFrame:
        """Execute the synthesized query (reference ``Legend.scala:105-108``)."""
        return self.spark.sql(self.generate_sql(path))

    def generate_sql_pure(self, lambda_text: str, mapping_path: str) -> str:
        """Compile an ad-hoc PURE query lambda (text) against a mapping.

        Extension over the reference API: the reference can only run lambdas
        stored in services; we accept user-authored lambdas directly, e.g.
        ``demo::entity::employee.all()->filter(x|$x.highFives > 5)``.
        """
        from .plans.parser import parse_lambda
        from .plans.query import parse_service_lambda, plan_sql
        mapping = self.model.get_mapping(mapping_path)
        cls = self.model.get_class(mapping.class_path)
        plan = parse_service_lambda(parse_lambda(lambda_text))
        return plan_sql(self.model, plan, mapping.qualified_table, cls,
                        mapping.property_columns)

    def query_pure(self, lambda_text: str, mapping_path: str) -> DataFrame:
        return self.spark.sql(self.generate_sql_pure(lambda_text, mapping_path))

    # -- DDL -------------------------------------------------------------------

    def create_table(self, mapping_path: str, location: str | None = None,
                     table_format: str | None = None) -> str:
        """Create the mapping's target table if absent, nullable-relaxed
        (reference ``Legend.scala:163-186``).  Uses Delta when delta-spark is
        importable, parquet otherwise; both produce a catalog table Spark can
        ``MERGE``/append into.  Returns the table name."""
        spark = self.spark
        m = self.model.get_mapping(mapping_path)
        table = self.get_table(mapping_path)
        struct = schema_mod.relaxed(self.get_schema(mapping_path))
        cls = self.model.get_class(m.class_path)
        comment = (cls.doc or "").replace("'", "''")

        if m.table_schema:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {m.table_schema}")
        fmt = table_format or _default_format()
        cols = ", ".join(_ddl_column(f) for f in struct.fields)
        ddl = f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING {fmt}"
        if comment:
            ddl += f" COMMENT '{comment}'"
        if location:
            ddl += f" LOCATION '{location}'"
        spark.sql(ddl)
        return table

    # -- reference Python-shim aliases (python/legend/delta.py) -----------------

    def get_entities(self) -> list[str]:
        return self.get_entity_names()


def _default_format() -> str:
    try:
        import delta  # noqa: F401
        return "DELTA"
    except ImportError:
        return "PARQUET"


def _ddl_column(f: T.StructField) -> str:
    comment = f.metadata.get("comment") if f.metadata else None
    ddl = f"`{f.name}` {f.dataType.simpleString()}"
    if comment:
        ddl += " COMMENT '" + comment.replace("'", "''") + "'"
    return ddl


class LegendCodeGen:
    """Reverse codegen facade (reference ``python/legend/delta.py:91-95``)."""

    @staticmethod
    def generate_from_table(spark: SparkSession, namespace: str,
                            qualified_table: str) -> str:
        from .codegen import generate_pure_from_table
        return generate_pure_from_table(spark, namespace, qualified_table)

    @staticmethod
    def generate_from_database(spark: SparkSession, namespace: str,
                               database: str) -> str:
        from .codegen import generate_pure_from_database
        return generate_pure_from_database(spark, namespace, database)

    @staticmethod
    def validate_model(text: str) -> bool:
        from .plans.parser import validate_model
        return validate_model(text)


class LegendFileLoader:
    """API-parity loader (reference ``LegendFileLoader.loadResources``)."""

    @staticmethod
    def loadResources(path: str, spark: SparkSession | None = None) -> Legend:
        return Legend.from_directory(path, spark)

    # pythonic alias
    load_resources = loadResources
