"""Output checks. Each returns (attempted, failed, problems): one attempt
per document compared with its golden plus one per structural invariant,
so failed/attempted is the run's failed_ratio."""

from __future__ import annotations

import os
from collections import Counter

Golden = dict[str, tuple]


def check_docs(rows, goldens: Golden) -> tuple[int, int, list[str]]:
    """rows: iterable of (url, text_sha256, error). Every golden url must
    appear exactly once with the golden digest and error; unknown urls
    fail too."""
    seen = Counter()
    failed, problems = 0, []
    for url, sha, err in rows:
        seen[url] += 1
        want = goldens.get(url)
        if seen[url] == 1 and want is not None and want != (sha, err):
            failed += 1
            problems.append(f"mismatch {url}: got {(sha, err)} want {want}")
    for url, k in seen.items():
        if url not in goldens:
            failed += 1
            problems.append(f"unexpected url {url}")
        elif k > 1:
            failed += 1
            problems.append(f"duplicated url {url} x{k}")
    missing = [u for u in goldens if u not in seen]
    failed += len(missing)
    problems += [f"missing url {u}" for u in missing[:5]]
    return len(goldens), failed, problems


def _read(path: str, columns: list[str]):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns)


def check_extract(out_dir: str, goldens: Golden) -> tuple[int, int, list[str]]:
    """Every committed run's (url, text_sha256, error) against the
    goldens, and the lineage n_in of all runs summing to the input count
    (a resumed job commits the base run and the delta run)."""
    t = _read(os.path.join(out_dir, "extracted"),
              ["url", "text_sha256", "error"])
    att, failed, problems = check_docs(
        zip(*(t.column(c).to_pylist()
              for c in ("url", "text_sha256", "error"))), goldens)
    lin_n = sum(_read(os.path.join(out_dir, "lineage"), ["n_in"])
                .column("n_in").to_pylist())
    if lin_n != len(goldens):
        failed += 1
        problems.append(f"lineage n_in sums to {lin_n}, "
                        f"input has {len(goldens)}")
    return att + 1, failed, problems


def check_corpus(out_dir: str, stats: dict, goldens: Golden,
                 n_in: int) -> tuple[int, int, list[str]]:
    """Per-stage conservation, a chained funnel starting at the input
    count, and the extract stage's rows against the goldens. The pack
    stage's n_out counts packed sequences, not documents, so it is only
    chained."""
    att, failed, problems = 0, 0, []
    prev_out = n_in
    for name, st in stats["stages"].items():
        if name != "pack":
            att += 1
            if st["n_in"] != st["n_out"] + st["n_quarantined"]:
                failed += 1
                problems.append(f"{name}: n_in {st['n_in']} != n_out "
                                f"{st['n_out']} + quarantined "
                                f"{st['n_quarantined']}")
        att += 1
        if st["n_in"] != prev_out:
            failed += 1
            problems.append(f"{name}: n_in {st['n_in']} != previous "
                            f"n_out {prev_out}")
        prev_out = st["n_out"]
    t = _read(os.path.join(out_dir, "stages", "extract", "data"),
              ["url", "text_sha", "error"])
    a, f, p = check_docs(
        zip(*(t.column(c).to_pylist() for c in ("url", "text_sha", "error"))),
        goldens)
    return att + a, failed + f, problems + p
