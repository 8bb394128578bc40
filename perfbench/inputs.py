"""The benchmark's inputs.

The sf0.1 tables are the repository's fixed testdata, read in place from
``$SPARK_GRAFT_SF_DIR``, by default the directory ``bench.py`` reads.
``depth_corpus`` builds the 10x documents corpus with
``baseline_pipeline_100x.py``'s recipe: shard 0 is the documents table
verbatim, shard i a doc_id-shifted copy whose texts get a word
permutation seeded with i, so the corpus is the first tenth of that
script's 100x corpus. The other tables are linked from the sf0.1
directory. Everything the benchmark derives (the corpus, DuckDB oracle
results) is cached under ``perfbench/.data``.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, ".data")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEPTH_COPIES = 10
DEPTH_OFFSET = 10_000_000   # baseline_pipeline_100x.OFFSET


def sf_dir() -> str:
    if not os.path.exists(os.path.join(SF_DIR, "orders.parquet")):
        raise FileNotFoundError(
            f"no sf0.1 testdata in {SF_DIR}; set SPARK_GRAFT_SF_DIR")
    return SF_DIR


def cache_dir(data_dir: str, kind: str) -> str:
    """A directory under ``perfbench/.data`` for results derived from
    the tables in ``data_dir``."""
    path = os.path.abspath(data_dir)
    key = hashlib.sha1(path.encode()).hexdigest()[:8]
    return os.path.join(DATA, kind, f"{os.path.basename(path)}-{key}")


def depth_corpus() -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = sf_dir()
    out = os.path.join(DATA, "depth10")
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    src = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    texts = src.column("text").to_pylist()
    ids = src.column("doc_id").to_pylist()
    id_type = src.schema.field("doc_id").type
    text_type = src.schema.field("text").type
    with pq.ParquetWriter(os.path.join(tmp, "documents.parquet"),
                          src.schema) as writer:
        writer.write_table(src)
        for i in range(1, DEPTH_COPIES):
            rng = random.Random(i)
            permuted = []
            for txt in texts:
                words = txt.split(" ")
                rng.shuffle(words)
                permuted.append(" ".join(words))
            shard = src.set_column(
                src.schema.get_field_index("doc_id"), "doc_id",
                pa.array([d + i * DEPTH_OFFSET for d in ids], id_type))
            shard = shard.set_column(
                shard.schema.get_field_index("text"), "text",
                pa.array(permuted, text_type))
            writer.write_table(shard)
    for f in os.listdir(src_dir):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(src_dir, f), os.path.join(tmp, f))
    open(os.path.join(tmp, "_BUILT"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
