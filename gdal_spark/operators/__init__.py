"""Operator surface of the engine (SURVEY.md §2 inventory + webtext
training-data extensions), one module per operator family. Import the
module you need, e.g. ``from gdal_spark.operators.pip_join import pip_join``:
this package imports none of them, so a worker that unpickles one operator
loads only that operator's module."""
