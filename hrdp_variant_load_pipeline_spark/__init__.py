"""PySpark-native analytics engine with the query and data-processing
capabilities of rat-genome-database/hrdp-variant-load-pipeline.

Brand-new Spark-first design (DataFrame / SQL / Catalyst), NOT a port of the
reference's row-at-a-time Java execution. See SURVEY.md for the blueprint.

Layout:
  sources/    file & table scans (VCF text source, parquet tables, JDBC stubs)
  functions/  pure column-expression libraries (normalization, zygosity, text)
  operators/  relational / set operators (interval join, upsert, dedup, ANN)
  plans/      end-to-end pipelines (runLoad, genicQc equivalents)
  streaming/  Structured Streaming stateful operators (running totals, stream dedup)
"""

from hrdp_variant_load_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
