"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and the program under test receives only these
generated inputs.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# -- crawl_wide --------------------------------------------------------------

CRAWL_HOSTS = 3000
URLS_PER_HOST = 8
_TLDS = ("com", "org", "net", "io", "de", "co.uk")
_SEGMENTS = ("p", "a", "doc", "x")  # '/x/' is robots-gated on some hosts
# raw spellings of one canonical page: www., https, scheme-less with
# trailing slashes, plain http
_FORMS = ("http://www.{h}{p}/", "https://{h}{p}", "{h}{p}//", "http://{h}{p}")


def crawl_seed_urls(seed: int, n_hosts: int = CRAWL_HOSTS) -> list[str]:
    """The seed list: `n_hosts` seed-derived hosts x URLS_PER_HOST raw
    URLs. The last URL of each host re-spells its first page, so batch
    dedup has md5 collisions to fold."""
    rng = random.Random(f"crawl_wide:{seed}")
    urls: list[str] = []
    for i in range(n_hosts):
        host = f"s{seed}h{i}.{rng.choice(_TLDS)}"
        paths = [
            f"/{rng.choice(_SEGMENTS)}/{rng.randrange(1 << 20)}"
            for _ in range(URLS_PER_HOST - 1)
        ]
        paths.append(paths[0])
        for p in paths:
            urls.append(rng.choice(_FORMS).format(h=host, p=p))
    return urls


# -- catalog -----------------------------------------------------------------

# sized like the catalog's sf0.1 test data: 5,000 documents of 10-100
# words, one in twenty a near-duplicate (another document's text plus
# the word "dup"); every timed and probed leaf reads only this table
CATALOG_DOCS = 5000
DUP_SHARE = 0.05
# the catalog's query terms (bm25_topk, hybrid_rrf, ...) are drawn from
# this pool, so documents must be written in it
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The `documents` table, in the test-data schema the catalog
    queries read."""
    rng = random.Random(f"catalog:{seed}")
    texts: list[str] = []
    for i in range(CATALOG_DOCS):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    documents = pa.table(
        {
            "doc_id": pa.array(range(CATALOG_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in texts],
            "source": [f"src{i % 20}" for i in range(CATALOG_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return {"documents": documents}


def write_catalog(seed: int, out_dir: str) -> None:
    """Write catalog_tables(seed) as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
