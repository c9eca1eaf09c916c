"""textract_demo_spark — a PySpark-native document-understanding /
main-content-extraction engine with the capabilities of the reference
repo ``apac-ml-tfc/textract-demo`` (see SURVEY.md), rebuilt from
scratch on the Spark DataFrame API.

Layout:
  core/     pure-Python extraction core (no Spark imports): HTML
            boilerplate strip, PDF layout parse, date entities,
            payload quality sniffing, shared confidence algebra.
  engine/   Spark pipeline: Arrow-UDF block extraction and field
            rules, review-override join, IcebergLike commit layer,
            metrics.
  fixtures/ deterministic synthetic transcript generator + golden
            expected outputs (the correctness oracle; FIXTURES.md).
  datapipe/ large-scale training-data ops: dedup, similarity search,
            text analysis, multimodal plumbing.
"""

__version__ = "0.1.0"
