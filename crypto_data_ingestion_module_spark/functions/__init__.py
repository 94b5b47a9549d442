"""Column-level building blocks (pure ``pyspark.sql.functions`` expressions).

Everything here returns Column expressions that stay inside whole-stage
codegen — no Python UDFs.
"""
