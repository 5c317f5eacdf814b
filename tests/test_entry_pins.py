"""The driver contract's output, pinned without Spark: ``queries()``
keeps its order and ``oracle_sql()`` its exact text.

The digests are sha256 of ``json.dumps`` of the ordered name list and
of the oracle dict in insertion order, both taken at the last
single-file entry (168d97c); the test passes there too."""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

QUERIES_SHA256 = "5e841119e44f5045780ecb18402040c2ad6d4515387f43271e02dea18fff023c"
ORACLE_SQL_SHA256 = "81d2e9111f54bc3eaf280d8bb625b8ce822736fcf6cef4b0db840333cd12c352"


def _sha256(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_queries_keep_their_order():
    names = list(E.queries())
    assert len(names) == 122
    assert _sha256(names) == QUERIES_SHA256, names


def test_oracle_sql_is_byte_identical():
    assert _sha256(E.oracle_sql()) == ORACLE_SQL_SHA256
