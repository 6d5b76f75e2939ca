"""Two queries sharing one session give the answers they give alone:
six registry queries whose operators persist, checkpoint and release
shared subtrees (k-means, the suffix array, MinHash, the TF-IDF linker,
the e6 stream replay, a TPC-H aggregate) run on a 4-thread pool in one
session, and each result must hash like its serial run."""

from __future__ import annotations

import hashlib
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from drugbankner_spark.caching import release_shared_caches  # noqa: E402
from tests.oracle_utils import normalize  # noqa: E402

NAMES = ("e2_kmeans", "e1_suffix_array", "e1_minhash_near_dup",
         "x1_tfidf_linker", "e6_windows", "q1_pricing_summary")


def _digest(spark, sf_dir: str, name: str) -> str:
    pdf = normalize(E.all_queries()[name](spark, sf_dir).toPandas())
    return hashlib.sha256(
        pdf.to_csv(index=False).encode("utf-8")
    ).hexdigest()


def test_concurrent_queries_match_serial(spark, sf_dir):
    t0 = time.monotonic()
    serial = {name: _digest(spark, sf_dir, name) for name in NAMES}
    release_shared_caches()
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {
            name: pool.submit(_digest, spark, sf_dir, name) for name in NAMES
        }
        concurrent = {name: f.result() for name, f in futures.items()}
    release_shared_caches()
    assert concurrent == serial
    assert time.monotonic() - t0 < 90
