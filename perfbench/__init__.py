"""Seeded end-to-end benchmark of the flink_ml_spark package; see README.md."""
