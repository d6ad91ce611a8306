"""StructType schemas for the V2 survey input (SURVEY.md §1, FIXTURES.md).

The reference keeps its surveys as untyped JSONL records (reference:
src/data_structure/survey.py:13-50); here the input table has a real schema.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAPER = T.StructType(
    [
        T.StructField("bibkey", T.StringType(), True),
        T.StructField("title", T.StringType(), False),
        T.StructField("abstract", T.StringType(), True),
        T.StructField("txt", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("txt_token", T.LongType(), True),
    ]
)

SURVEYS_INPUT = T.StructType(
    [
        T.StructField("survey_id", T.StringType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("papers", T.ArrayType(PAPER), False),
    ]
)
