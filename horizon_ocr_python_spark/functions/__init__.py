"""Column-level expression builders: reusable validator/text expressions
built only on pyspark.sql.functions (JVM-side, codegen-able)."""
