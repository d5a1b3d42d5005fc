"""The frozen registry query set and its DuckDB oracle expectations.

Every traced run times the 22 queries below, in this order, through
``__spark_entry__.queries()`` on a copy of the engine's sf0.01 tables.
Each query's result is collected once with ``toArrow`` (the timed sink)
and its signature is compared with the one of its DuckDB oracle under
``tools/check_oracles.py``'s rules: the same column names, the same Arrow
value types, the same row count and the same order-insensitive multiset
of canonical rows. The tables are fixed (seed 42), so the run's seed
does not vary them.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import shutil

FROZEN = (
    "q1_pricing_summary", "q5_nation_revenue", "events_sessionize",
    "context_expand", "dedup_minhash_lsh", "dedup_paragraph_xx",
    "extract_roundtrip", "extract_markdown", "media_features_png",
    "media_meta_jpeg", "media_features_gif", "video_frame_dedup",
    "nb_classify", "bpe_train", "kmeans_embed", "line_dedup",
    "dedup_substring_xx", "lexical_topk_indexed", "text_normalize",
    "winnow_fingerprint", "ann_ivf_topk", "knn_topk",
)
SCALE = "sf0.01"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _oracle_rules():
    """tools/check_oracles.py, the oracle comparison rules."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def signature(tab) -> dict:
    """What the oracle comparison looks at, of one Arrow result."""
    rules = _oracle_rules()
    cols = tab.column_names
    rows = [tuple(r.values()) for r in tab.to_pylist()]
    multiset = "\n".join(rules.rows_to_multiset(rows, cols))
    return {"cols": sorted(cols), "types": rules.arrow_schema_by_name(tab),
            "rows": len(rows),
            "digest": hashlib.sha256(multiset.encode()).hexdigest()}


def check(name: str, tab, expected: dict) -> str | None:
    """A problem if tab differs from query name's oracle signature."""
    got, want = signature(tab), expected[name]
    return None if got == want else f"query {name}: got {got} want {want}"


def source_dir() -> str:
    """The engine's fixed tables at SCALE, beside its default sf dir."""
    from pdf_extract_spark.session import DEFAULT_SF_DIR
    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), SCALE)


def _digest(src: str, tables: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    paths = [os.path.join(src, f"{t}.parquet") for t in tables]
    qdir = os.path.join(ROOT, "pdf_extract_spark", "queries")
    paths += [os.path.join(qdir, n) for n in sorted(os.listdir(qdir))
              if n.endswith(".py")]
    paths += [os.path.join(ROOT, "tools", "check_oracles.py"),
              os.path.abspath(__file__)]
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def prepare(work: str) -> str:
    """Copy the tables into work and record each query's oracle signature,
    once per table and source digest. Returns the prepared directory:
    ``tables/`` and ``expected.json``."""
    tables = _oracle_rules().TABLES
    src = source_dir()
    missing = [t for t in tables
               if not os.path.exists(os.path.join(src, f"{t}.parquet"))]
    if missing:
        raise FileNotFoundError(f"tables {missing} missing under {src}")
    out = os.path.join(work, "queries", f"{SCALE}-{_digest(src, tables)}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    import duckdb

    from __spark_entry__ import oracle_sql

    stage = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(os.path.join(stage, "tables"))
    for t in tables:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                        os.path.join(stage, "tables", f"{t}.parquet"))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        path = os.path.join(stage, "tables", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    sql = oracle_sql()
    expected = {q: signature(con.execute(sql[q]).fetch_arrow_table())
                for q in FROZEN}
    con.close()
    with open(os.path.join(stage, "expected.json"), "w") as f:
        json.dump(expected, f)
    try:
        os.rename(stage, out)
    except OSError:
        # another run prepared the same directory first
        shutil.rmtree(stage, ignore_errors=True)
    return out
