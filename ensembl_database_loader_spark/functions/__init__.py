"""Column-level helper functions (JVM-side expressions preferred;
Python/pandas UDFs only where semantics require them)."""

from ensembl_database_loader_spark.functions.checksums import (
    bsd_sum16,
    bsd_sum16_blocks,
    bsd_sum16_files,
    bsd_sum16_udf,
)

__all__ = ["bsd_sum16", "bsd_sum16_blocks", "bsd_sum16_files", "bsd_sum16_udf"]
