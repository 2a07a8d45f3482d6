"""Engine: pyspark.sql assembly of the extraction kernel.

One shuffle (the salted repartition), then a single fused Arrow row-map
stage (`schema.map_rows`, SURVEY §3.4), then a relational tail. Everything
else is narrow. Every Python stage of the engine goes through that one
row map.
"""
