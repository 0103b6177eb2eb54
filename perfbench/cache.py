"""Indexes the workloads start from, built once per checkout in a child
process (so the measured process never holds the builder's memory), keyed
by the program's source, so a cache can never outlive the code that built
it:

* ``index/`` and ``oracle.pkl``: the fixture index the interactive
  workload serves, and its oracle, with the oracle's top-k of every head
  query already computed (a run checks only its tail queries afresh);
* ``ingest-base/``: the small index the ingest workload copies and then
  writes into.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import subprocess
import sys
from pathlib import Path

# pages in the served index; building it takes ~60 s on 4 cores, which is
# why it is built once per checkout and not once per run
CORPUS_DOCS = 10_000
# pages and buckets of the ingest base index: pages 0.. of the same
# fixture corpus.  Building it costs ~25 s on 4 cores whatever its size.
BASE_DOCS = 300
BASE_BUCKETS = 1


def _key(root: Path) -> str:
    from inputs import HEAD
    from workloads import K

    h = hashlib.sha256(
        repr((CORPUS_DOCS, BASE_DOCS, BASE_BUCKETS, HEAD, K)).encode())
    for p in sorted((root / "probe_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def ensure(root: Path, work: Path) -> Path:
    """Directory holding the prebuilt indexes; builds them first if this
    checkout has none for the current source."""
    d = work / f"prebuilt-{_key(root)}"
    if (d / "DONE").exists():
        return d
    for stale in work.glob("prebuilt-*"):
        shutil.rmtree(stale)
    code = subprocess.run([sys.executable, __file__, str(d)]).returncode
    if code != 0:
        raise RuntimeError(f"building {d} failed (exit {code})")
    return d


def load_oracle(d: Path):
    """(oracle corpus, {head query: oracle top-k})."""
    # written by _build in this checkout, never read from elsewhere
    with open(d / "oracle.pkl", "rb") as f:
        return pickle.load(f)


def base_pages(spark):
    """The ingest base index's pages, as build_index takes them."""
    from probe_spark.fixtures import pages_df

    return pages_df(spark, BASE_DOCS).drop("html", "warc_ts")


def _build(d: str) -> None:
    from inputs import HEAD
    from probe_spark.fixtures import oracle_corpus, pages_df
    from probe_spark.indexer import build_index
    from probe_spark.oracle import search
    from probe_spark.session import get_spark
    from workloads import K, stop_spark

    out = Path(d)
    out.mkdir(parents=True)
    # the oracle forks its workers, so it goes before the JVM starts
    corpus = oracle_corpus(CORPUS_DOCS, workers=os.cpu_count() or 1)
    head = {q: search(corpus, q, k=K) for q in HEAD}
    with open(out / "oracle.pkl", "wb") as f:
        pickle.dump((corpus, head), f, protocol=pickle.HIGHEST_PROTOCOL)
    spark = get_spark("perfbench-cache")
    try:
        pages = pages_df(spark, CORPUS_DOCS).drop("html", "warc_ts")
        build_index(spark, pages, str(out / "index"))
        build_index(spark, base_pages(spark), str(out / "ingest-base"),
                    n_buckets=BASE_BUCKETS)
    finally:
        stop_spark(spark)
    (out / "DONE").touch()


if __name__ == "__main__":
    here = Path(__file__).resolve().parent
    sys.path[:0] = [str(here), str(here.parent)]
    _build(sys.argv[1])
