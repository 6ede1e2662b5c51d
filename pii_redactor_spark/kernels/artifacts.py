"""Kernel artifact persistence (SURVEY §7.1 / §3.2 step (c)).

The kernels fit deterministically from embedded seed corpora, so workers
can always rebuild them — but a production job ships FITTED artifacts so
(a) every executor is guaranteed the same tables even if corpora change
between releases, and (b) fitting cost is paid once offline (the
reference's analogue: the optimized-model JSON, optimizer.py:295-298,
311-322, loaded at startup main.py:22-26).

Artifacts are a directory of ``.npz`` files + a JSON manifest, small
enough to ship via ``spark-submit --files`` / ``SparkFiles`` or
``addPyFile``-adjacent distribution. ``load_artifacts`` pre-populates
the kernels' lru caches, so loading wins over refitting transparently.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

from pii_redactor_spark.kernels import langid as _langid
from pii_redactor_spark.kernels import perplexity as _ppl
from pii_redactor_spark.kernels import quality_clf as _qclf
from pii_redactor_spark.kernels.corpora import SEED_CORPORA

MANIFEST = "manifest.json"


def save_artifacts(path: str | Path) -> dict:
    """Fit all kernels and write their tables + manifest to ``path``."""
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    langs, prior, lik = _langid.fit_langid()
    np.savez_compressed(out / "langid.npz",
                        langs=np.array(langs), prior=prior, lik=lik)
    for lang in sorted(SEED_CORPORA):
        np.savez_compressed(out / f"charlm_{lang}.npz",
                            logp=_ppl.fit_charlm(lang))
    qw, qb = _qclf.fit_quality_clf()
    np.savez_compressed(out / "quality_clf.npz", weights=qw,
                        bias=np.array([qb], dtype=np.int64))
    from pii_redactor_spark.kernels import encoder as _enc
    ew1, eb1, ew2 = _enc.mlp_weights()
    np.savez_compressed(out / "encoder.npz", w1=ew1, b1=eb1, w2=ew2)
    manifest = {
        "format": 1,
        "langid": {"n_buckets": _langid.N_BUCKETS,
                   "ngram_range": list(_langid.NGRAM_RANGE),
                   "languages": langs},
        "charlm": {"alphabet_size": _ppl.A,
                   "lambdas": list(_ppl.LAMBDAS),
                   "languages": sorted(SEED_CORPORA)},
        "quality_clf": {"dim": _qclf.CLF_DIM,
                        "scale": _qclf._SCALE,
                        "threshold": _qclf.CLF_THRESHOLD},
        "encoder": {"in": int(ew1.shape[0]), "hid": int(ew1.shape[1]),
                    "out": int(ew2.shape[1])},
    }
    (out / MANIFEST).write_text(json.dumps(manifest, indent=1))
    return manifest


THRESHOLDS = "thresholds.json"


def save_thresholds(path: str | Path, th) -> None:
    """Persist fitted QualityThresholds next to the kernel tables (the
    analogue of the reference's optimized-model JSON)."""
    from dataclasses import asdict
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    d = asdict(th)
    d["toxicity_words"] = list(d.get("toxicity_words") or ())
    (out / THRESHOLDS).write_text(json.dumps(d, indent=1))


def load_thresholds(path: str | Path):
    """Load fitted QualityThresholds; FileNotFoundError if absent."""
    from pii_redactor_spark.functions.rules import QualityThresholds
    d = json.loads((Path(path) / THRESHOLDS).read_text())
    d["toxicity_words"] = tuple(d.get("toxicity_words") or ())
    return QualityThresholds(**d)


def load_tables(path: str | Path) -> dict:
    """Read fitted tables from disk WITHOUT touching process caches —
    the SHIPPABLE form: pass the returned dict to
    ``run_pipeline(artifacts=...)`` so it is closure-captured into the
    fused kernel UDF and every EXECUTOR worker preloads the same tables
    (driver-side ``load_artifacts`` alone never reaches workers).
    Returns {"langid": (langs, prior, lik), "charlms": {lang: logp},
    "manifest": ...}. Raises FileNotFoundError if no manifest."""
    out = Path(path)
    manifest = json.loads((out / MANIFEST).read_text())
    with np.load(out / "langid.npz", allow_pickle=False) as z:
        langid_tables = (list(map(str, z["langs"])), z["prior"].copy(),
                         z["lik"].copy())
    charlms = {}
    for lang in manifest["charlm"]["languages"]:
        with np.load(out / f"charlm_{lang}.npz", allow_pickle=False) as z:
            charlms[lang] = z["logp"].copy()
    tables = {"langid": langid_tables, "charlms": charlms,
              "manifest": manifest}
    # quality_clf/encoder are absent from older artifact dirs — tolerate
    if (out / "quality_clf.npz").exists():
        with np.load(out / "quality_clf.npz", allow_pickle=False) as z:
            tables["quality_clf"] = (z["weights"].copy(),
                                     int(z["bias"][0]))
    if (out / "encoder.npz").exists():
        with np.load(out / "encoder.npz", allow_pickle=False) as z:
            tables["encoder"] = (z["w1"].copy(), z["b1"].copy(),
                                 z["w2"].copy())
    return tables


ARTIFACTS_ENV = "PII_SPARK_ARTIFACTS"
DEFAULT_ARTIFACTS_DIR = "artifacts"


def resolve_artifacts_dir(explicit: str | None = None) -> str | None:
    """Artifact-dir discovery — the engine's mirror of the reference's
    load-optimized-model-at-startup (reference: main.py:22-26: *always*
    loads ``optimized_model.json`` when the file exists, no flag
    needed). Precedence: explicit ``--artifacts`` value, then
    ``$PII_SPARK_ARTIFACTS``, then ``./artifacts`` — the first candidate
    that actually holds a thresholds or manifest file. Returns ``None``
    when nothing is fitted yet (run with built-in defaults)."""
    import os
    if explicit:
        return str(explicit)
    for cand in (os.environ.get(ARTIFACTS_ENV), DEFAULT_ARTIFACTS_DIR):
        if cand and ((Path(cand) / THRESHOLDS).exists()
                     or (Path(cand) / MANIFEST).exists()):
            return str(cand)
    return None


def load_fitted(path: str | Path | None) -> tuple:
    """``(thresholds, tables)`` fitted into an already-resolved artifact
    dir; either is ``None`` when its files are absent (a thresholds-only
    dir, or no dir at all). The tables ship to executors through
    ``run_pipeline(artifacts=...)``."""
    if not path:
        return None, None
    out = []
    for load in (load_thresholds, load_tables):
        try:
            out.append(load(path))
        except FileNotFoundError:
            out.append(None)
    return tuple(out)


def load_artifacts(path: str | Path) -> dict:
    """Load fitted tables from ``path`` into THIS process's kernel
    caches (wins over refitting). Driver-side convenience; for
    distributed runs ship ``load_tables`` output through
    ``run_pipeline(artifacts=...)``. Returns the manifest."""
    t = load_tables(path)
    _langid.preload(t["langid"])
    _ppl.preload(t["charlms"])
    if "quality_clf" in t:
        _qclf.preload(t["quality_clf"])
    if "encoder" in t:
        from pii_redactor_spark.kernels import encoder as _enc
        _enc.preload(t["encoder"])
    return t["manifest"]


BPE_MERGES_FILE = "bpe_merges.json"


def save_bpe(path: str | Path, merges: list[tuple[str, str]]) -> None:
    """Persist a corpus-fitted BPE merge table (operators/bpe.py
    fit_bpe_merges output) — corpus-fitted state like centroids, so
    written at job time, not by save_artifacts."""
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    (out / BPE_MERGES_FILE).write_text(
        json.dumps([[x, y] for x, y in merges]))


def load_bpe(path: str | Path) -> list[tuple[str, str]]:
    """Load a fitted merge table; FileNotFoundError if absent. JSON
    round-trips the (unicode) symbol pairs exactly, so serving from the
    artifact is the same replace chain as serving from the fit."""
    f = Path(path) / BPE_MERGES_FILE
    if not f.exists():
        raise FileNotFoundError(f)
    return [(x, y) for x, y in json.loads(f.read_text())]


CENTROIDS = "centroids.npz"


def save_centroids(path: str | Path,
                   cents: list[tuple[int, list[float]]]) -> None:
    """Persist a fitted coarse-quantizer artifact (operators/clustering
    kmeans_fit output) next to the kernel tables. Unlike the seed-corpus
    kernels this is CORPUS-fitted state, so it is written at job time
    (like thresholds.json), not by save_artifacts."""
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cvs = np.array([cv for _, cv in cents], dtype=np.float64)
    np.savez_compressed(out / CENTROIDS, cids=cids, cvs=cvs)


def load_centroids(path: str | Path) -> list[tuple[int, list[float]]]:
    """Load a fitted centroid artifact; FileNotFoundError if absent.
    float64 round-trips .npz losslessly, so serving from the artifact is
    bit-identical to serving from the in-session fit."""
    f = Path(path) / CENTROIDS
    if not f.exists():
        raise FileNotFoundError(f)
    with np.load(f, allow_pickle=False) as z:
        return [(int(c), list(map(float, cv)))
                for c, cv in zip(z["cids"], z["cvs"])]
