"""``queries()`` rotation: the driver scores only the first 50 entries,
so the order puts queries that have not scored green recently first."""

from __future__ import annotations

import json

import __spark_entry__ as entry
from pii_redactor_spark.contract import QUERIES

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 1, "oracle_rows": 1, "err": None}
RED = {**GREEN, "hash_match": False}


def test_rank_is_last_green_round(tmp_path, monkeypatch):
    a, b, c, d, e = list(QUERIES)[:5]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {a: GREEN, b: GREEN, c: GREEN, d: GREEN}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {a: GREEN, b: RED, e: {**GREEN, "schema_match": False}}))
    monkeypatch.setattr(entry, "_HERE", tmp_path)
    # b scored red in round 2: ranked by its last green round (1); e was
    # red on its only scoring, so it ranks with the never-scored (0)
    assert entry._driver_score_rank() == {a: 2, b: 1, c: 1, d: 1}
    order = list(entry.queries())
    assert order[-4:] == [b, c, d, a]
    assert order.index(e) < order.index(b)
    assert sorted(order) == sorted(QUERIES)
