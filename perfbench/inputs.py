"""Seeded benchmark inputs and their single-node goldens.

Pages come from ``fixtures.pages.make_rows`` in blocks of ``BLOCK``
contiguous row indices. Each block is written once per checkout as a
pages parquet file plus a goldens parquet file holding, per url, the
``(text_sha256, error)`` that ``kernels.decode.decode_payload`` gives
single-node. A workload reads ``n_blocks`` consecutive blocks from a pool
of ``POOL_BLOCKS``; the seed picks the first block, i.e. it sets the row
index offset. The cache key includes FIXTURE_VERSION, a digest of the
fixture and kernel sources and the file layout, so a code change never
reuses stale goldens.

Pages files hold row groups of ``ROW_GROUP`` rows, so that a scan split
at any byte size finds rows in every split: a scan can then yield as
many tasks as the extraction job's partitions without an exchange.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

BLOCK = 1000
POOL_BLOCKS = 24
ROW_GROUP = 32
LAYOUT = f"rg{ROW_GROUP}"


def source_digest(root: str) -> str:
    """Digest of every source file that shapes the pages or their goldens."""
    h = hashlib.sha256()
    for sub in ("fixtures", "kernels"):
        d = os.path.join(root, "pdf_extract_spark", sub)
        for name in sorted(os.listdir(d)):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def cache_dir(work: str, root: str) -> str:
    from pdf_extract_spark.fixtures.pages import FIXTURE_VERSION
    return os.path.join(work, "inputs",
                        f"v{FIXTURE_VERSION}-{source_digest(root)}-{LAYOUT}")


def block_ids(seed: int, n_blocks: int) -> list[int]:
    first = seed % (POOL_BLOCKS - n_blocks + 1)
    return list(range(first, first + n_blocks))


def pages_path(cdir: str, b: int) -> str:
    return os.path.join(cdir, f"pages-{b:03d}.parquet")


def golden_path(cdir: str, b: int) -> str:
    return os.path.join(cdir, f"golden-{b:03d}.parquet")


def _write_atomic(table, path: str) -> None:
    import pyarrow.parquet as pq
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)


def make_block(cdir: str, b: int) -> None:
    """Write block b's pages and goldens."""
    import pyarrow as pa

    from pdf_extract_spark.fixtures.pages import make_rows
    from pdf_extract_spark.kernels.decode import decode_payload, text_sha256

    rows = make_rows(BLOCK, start=b * BLOCK)
    urls, ts, payloads, texts, langs = (list(c) for c in zip(*rows))
    shas, errs = [], []
    for p in payloads:
        text, err = decode_payload(p)
        shas.append(None if text is None else text_sha256(text))
        errs.append(err)
    _write_atomic(pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(payloads, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    }), pages_path(cdir, b))
    _write_atomic(pa.table({
        "url": pa.array(urls, pa.string()),
        "text_sha256": pa.array(shas, pa.string()),
        "error": pa.array(errs, pa.string()),
    }), golden_path(cdir, b))


def ensure_blocks(cdir: str, ids: list[int], procs: int) -> None:
    """Generate the missing blocks, up to procs at a time, each in a
    child process (python3 -m perfbench.inputs <cache dir> <block>)."""
    os.makedirs(cdir, exist_ok=True)
    missing = [b for b in ids
               if not (os.path.exists(pages_path(cdir, b))
                       and os.path.exists(golden_path(cdir, b)))]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    running: list[subprocess.Popen] = []
    try:
        for b in missing:
            if len(running) == procs:
                _reap(running.pop(0))
            running.append(subprocess.Popen(
                [sys.executable, "-m", "perfbench.inputs", cdir, str(b)],
                cwd=root))
        while running:
            _reap(running.pop(0))
    finally:
        for p in running:
            p.kill()
            p.wait()


def _reap(p: subprocess.Popen) -> None:
    if p.wait() != 0:
        raise RuntimeError(f"input generation failed: {p.args}")


def corpus_slice(cdir: str, b: int, rows: int) -> str:
    """The first rows pages of block b as their own parquet file."""
    import pyarrow.parquet as pq
    path = os.path.join(cdir, f"corpus-{b:03d}-{rows}.parquet")
    if not os.path.exists(path):
        _write_atomic(pq.read_table(pages_path(cdir, b)).slice(0, rows), path)
    return path


def load_goldens(paths: list[str]) -> dict[str, tuple[str | None, str | None]]:
    import pyarrow.parquet as pq
    out = {}
    for p in paths:
        t = pq.read_table(p)
        out.update(zip(t.column("url").to_pylist(),
                       zip(t.column("text_sha256").to_pylist(),
                           t.column("error").to_pylist())))
    return out


def payload_bytes(paths: list[str]) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    return sum(pc.sum(pc.binary_length(
        pq.read_table(p, columns=["html"]).column("html"))).as_py() or 0
        for p in paths)


if __name__ == "__main__":
    make_block(sys.argv[1], int(sys.argv[2]))
