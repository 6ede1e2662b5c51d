"""Adversarial-corpus contract check: sf0.001 plus five documents whose
text is NULL, '', 'a', '   ' and 'two words', every query below compared
with its DuckDB oracle the way scripts/check_contract.py does (row count,
column names, order-insensitive value hash via ``table_hash``).

The corpus lives under pytest's tmp_path: symlinks to the sf0.001 tables
plus a rewritten ``documents.parquet``; the shared testdata is only read.

q_bpe, q_pack_bpe and q_worstk_ppl are not compared here: their oracles
are keyed on each scale factor's ``sum(n_chars)`` (the checksum-pinned
merge tables and the pinned top-k), so on this corpus they return 0
oracle rows by design — ``test_sf_keyed_oracles_are_empty_here`` pins
exactly that.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import ADVERSARIAL_TEXTS, REPO_ROOT, SF_DIR

sys.path.insert(0, str(REPO_ROOT / "scripts"))
from check_contract import TABLES, norm_value, table_hash  # noqa: E402

from pii_redactor_spark.contract import ORACLE_SQL, QUERIES  # noqa: E402
from pii_redactor_spark.operators.cache import release_caches  # noqa: E402

SF = Path(SF_DIR)

ADVERSARIAL_QUERIES = [
    "q_simhash", "q_langid", "q_mlp_embed", "q_text_embed", "q_fingerprint",
    "q_dedup_minhash_bands", "q_dedup_against", "q_dedup_against_verified",
    "q_neardup_stream_twin", "q_media_meta", "q_media_resize",
    "q_quality_clf", "q_quality_tiers", "q_quality_nb_counts", "q_dsir",
    "q_dsir_gumbel",
]
SF_KEYED = ["q_bpe", "q_pack_bpe", "q_worstk_ppl"]


@pytest.fixture(scope="module")
def adversarial_sf(tmp_path_factory):
    """(sf_dir, duckdb connection with one view per table)."""
    d = tmp_path_factory.mktemp("sf_adversarial")
    for p in SF.glob("*.parquet"):
        if p.name != "documents.parquet":
            (d / p.name).symlink_to(p)
    docs = pq.read_table(SF / "documents.parquet")
    first = max(docs.column("doc_id").to_pylist()) + 1
    n = len(ADVERSARIAL_TEXTS)
    extra = pa.table({
        "doc_id": list(range(first, first + n)),
        "text": list(ADVERSARIAL_TEXTS),
        "lang": ["en"] * n,
        "source": ["src0"] * n,
        "n_chars": [None if t is None else len(t) for t in ADVERSARIAL_TEXTS],
    }, schema=docs.schema)
    pq.write_table(pa.concat_tables([docs, extra]), d / "documents.parquet")
    con = duckdb.connect()
    for t in TABLES:
        p = d / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield str(d), con
    con.close()


@pytest.mark.parametrize("name", ADVERSARIAL_QUERIES)
def test_query_matches_oracle_on_adversarial_corpus(spark, adversarial_sf,
                                                    name):
    sf_dir, con = adversarial_sf
    sdf = QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    release_caches()
    orel = con.execute(ORACLE_SQL[name])
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    if table_hash(sdf.columns, srows) != table_hash(ocols, orows):
        order = [ocols.index(c) for c in sdf.columns]
        sset = {tuple(norm_value(v) for v in r) for r in srows}
        oset = {tuple(norm_value(r[i]) for i in order) for r in orows}
        pytest.fail(f"{name}: spark-only {sorted(sset - oset)[:3]}, "
                    f"oracle-only {sorted(oset - sset)[:3]}")


@pytest.mark.parametrize("name", SF_KEYED)
def test_sf_keyed_oracles_are_empty_here(adversarial_sf, name):
    _, con = adversarial_sf
    assert con.execute(ORACLE_SQL[name]).fetchall() == []
