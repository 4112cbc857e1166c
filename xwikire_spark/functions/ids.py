"""Surrogate-id expressions.

Reference: sha1 over space-joined key parts —
``sha1(" ".join([page_id, prop_id, answer_id]))``
(src/universal_schema.py:12-14, src/builders/QA.py:71-74,
src/builders/builder.py:55-57). Spark's built-in ``sha1`` is bit-exact with
hashlib, so triple ids match the reference byte-for-byte with zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def triple_id(subj: Column | str, pred: Column | str, obj: Column | str) -> Column:
    """sha1("<subj> <pred> <obj>") — the universal-schema triple id
    (src/universal_schema.py:12-14)."""
    return F.sha1(F.concat_ws(" ", subj, pred, obj))
