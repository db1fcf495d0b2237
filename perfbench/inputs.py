"""Seeded benchmark inputs. The program under test only ever sees these
files; the same seed always yields the same bytes of content.

- ``write_build_inputs``: a seeded pages corpus and a fixed 5000-entity
  alias dim, the package's own bench-scale fixtures, written as parquet.
- ``write_query_inputs``: the two tables the query mix reads
  (``documents`` and ``part``), a seeded sample of the sf0.1 testdata
  tables of TESTDATA.md, of which ``data/sf0.1`` holds byte-identical copies.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_ENTITIES = 5000
# the alias dim is reference data: one dictionary for every seed, so that
# runs on different seeds build graphs of comparable size
DIM_SEED = 42
# the pages corpus is split over this many files, so the scan has as many
# input splits as a small crawl shard
PAGE_FILES = 8

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def pages_table(n_pages: int, aliases: list[str], seed: int) -> pa.Table:
    """The rows of ``fixtures.generate_pages_distributed`` at its default
    shape (page i is a pure function of the seed and i), generated on the
    driver so that set-up runs no Spark job."""
    from biomedical_knowledge_graph_spark.fixtures import _BENCH_FILLER, _EPOCH

    alias_list = sorted(aliases)
    n_hosts = max(4, n_pages // 50)
    cols: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "lang": []}
    for pid in range(n_pages):
        rng = random.Random(f"{seed}:{pid}")
        host = f"host{rng.randrange(n_hosts):05d}.example"
        lines = []
        for _ in range(rng.randint(10, 30)):
            words = [
                rng.choice(alias_list) if rng.random() < 0.12 else rng.choice(_BENCH_FILLER)
                for _ in range(rng.randint(6, 14))
            ]
            lines.append(" ".join(words))
        body = "".join(f"<p>{ln}</p>" for ln in lines)
        cols["url"].append(f"https://{host}/doc/{pid:09d}")
        cols["warc_ts"].append(_EPOCH + dt.timedelta(seconds=pid * 7))
        cols["html"].append(f"<html><body>{body}</body></html>".encode())
        cols["lang"].append("en")
    return pa.table(
        {
            "url": cols["url"],
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols["html"], pa.binary()),
            "lang": cols["lang"],
        }
    )


def write_build_inputs(root: str, n_pages: int, seed: int) -> dict:
    """``<root>/pages`` and ``<root>/dim`` parquet; returns their paths."""
    from biomedical_knowledge_graph_spark import fixtures

    specs = fixtures.synthetic_alias_specs(N_ENTITIES, seed=DIM_SEED)
    paths = {"pages": os.path.join(root, "pages"), "dim": os.path.join(root, "dim")}
    # the rows of fixtures.synthetic_entity_dict_df, written without a job
    os.makedirs(paths["dim"])
    os.makedirs(paths["pages"])
    pq.write_table(
        pa.table(
            {
                "alias": [a for a, _, _ in specs],
                "canonical_id": [c for _, c, _ in specs],
                "entity_type": [t for _, _, t in specs],
                "namespace": ["default"] * len(specs),
                "is_obsolete": [False] * len(specs),
                "replaced_by": pa.nulls(len(specs), pa.string()),
            }
        ),
        os.path.join(paths["dim"], "part-0.parquet"),
    )
    pages = pages_table(n_pages, [alias for alias, _, _ in specs], seed)
    step = -(-n_pages // PAGE_FILES)
    for i in range(PAGE_FILES):
        pq.write_table(
            pages.slice(i * step, step),
            os.path.join(paths["pages"], f"part-{i}.parquet"),
        )
    return paths


def write_query_inputs(
    out_dir: str, n_docs: int, n_parts: tuple[int, int], seed: int
) -> str:
    """``<out_dir>/{documents,part}.parquet`` drawn from the sf0.1 tables
    in ``data/sf0.1``: ``n_docs`` documents sampled by seed, keeping their
    rows as they are, and the parts with ``1 <= p_partkey <= n`` for a
    seeded ``n`` in ``n_parts``. The closure leaf reads part keys as a
    heap-indexed tree over ``[1..n]``, so parts are a key prefix, not a
    sample. Returns ``out_dir``."""
    rng = random.Random(f"query:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    picked = sorted(rng.sample(range(docs.num_rows), min(n_docs, docs.num_rows)))
    pq.write_table(docs.take(picked), os.path.join(out_dir, "documents.parquet"))
    n = rng.randint(*n_parts)
    parts = pq.read_table(os.path.join(SF_DIR, "part.parquet"))
    pq.write_table(
        parts.filter(pc.less_equal(parts["p_partkey"], n)),
        os.path.join(out_dir, "part.parquet"),
    )
    return out_dir
