"""Output checks, run once per run on the last timed pass's outputs.

Each check returns the names of the operations whose output is wrong; the
runner counts every one of them as a failed operation.
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pyarrow.parquet as pq


def check_oracle(outputs: dict, data_dir: str) -> list:
    """Hash-match each catalog result against its DuckDB ``ORACLE_SQL`` twin.

    Same comparison as ``tools/check_correctness.py``: sorted column names,
    row count and the order-insensitive full-precision value lines.
    """
    import duckdb
    from check_correctness import TABLES, rows_from_pandas, table_sig

    from ffn_polars_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for name, pdf in outputs.items():
            if pdf is None:
                continue  # the call itself failed and is counted already
            scols, srows = rows_from_pandas(pdf)
            ocols, orows = rows_from_pandas(con.execute(ORACLE_SQL[name]).fetch_df())
            if sorted(scols) != sorted(ocols) or table_sig(scols, srows) != table_sig(ocols, orows):
                bad.append(name)
        return bad
    finally:
        con.close()


_TAIL = re.compile(r" tail\d+$")


def planted_groups(docs: pd.DataFrame) -> list:
    """Near-duplicate groups ``tools/gen_testdata.py`` plants: a base text
    and its upper-cased, whitespace-padded and tail-appended copies."""
    key = docs["text"].map(lambda t: _TAIL.sub("", t.strip().lower()))
    sizes = key.map(key.value_counts())
    multi = docs[sizes > 1].assign(key=key[sizes > 1])
    return [set(g["doc_id"]) for _, g in multi.groupby("key")]


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def check_pipeline(work_dir: str, data_dir: str, seq_len: int) -> list:
    """Invariants of the corpus pipeline's written outputs:

    * every packed sequence holds at most ``seq_len`` tokens;
    * the split covers exactly the canonical documents, each once;
    * every planted near-duplicate group that reaches dedup collapses onto
      one canonical document (and at least one such group exists).
    """
    bad = []
    packed = _read(os.path.join(work_dir, "packed.parquet"))
    if packed.empty or packed.groupby("seq_id")["chunk_tokens"].sum().max() > seq_len:
        bad.append("pack_sequences")

    canon = _read(os.path.join(work_dir, "canonical.parquet"))
    split = _read(os.path.join(work_dir, "split.parquet"))
    canonical_ids = set(canon.loc[~canon["is_duplicate"], "doc_id"])
    if split["doc_id"].duplicated().any() or set(split["doc_id"]) != canonical_ids:
        bad.append("deterministic_split")

    docs = _read(os.path.join(data_dir, "documents.parquet"))[["doc_id", "text"]]
    canonical_of = dict(zip(canon["doc_id"], canon["canonical_id"]))
    reached = 0
    for group in planted_groups(docs):
        present = [d for d in group if d in canonical_of]
        if len(present) < 2:
            continue
        reached += 1
        if len({canonical_of[d] for d in present}) != 1:
            bad.append("dedup_minhash_lsh")
            break
    if reached == 0:
        bad.append("dedup_minhash_lsh")
    return bad
