"""Output check: every url exactly once, and per-url digests equal to a
plain-Python ``extract_record`` pass over the same generated table.

This is a self-consistency check (Spark path against the in-process
path of the same program), not reference parity. The pinned canary
digest is what ties the program's output to a recorded version.
"""

from __future__ import annotations

import hashlib
import multiprocessing
from collections import Counter

# Article columns whose bytes the check compares, plus the two outcome
# columns. A NULL is digested as "\x00", a boolean as "true"/"false" —
# the same strings Spark's cast(... as string) gives.
CHECKED_COLUMNS = ("title", "byline", "content", "text_content", "excerpt",
                   "lang", "readerable", "error")
_SEP = "\x1f"
_NULL = "\x00"


def _as_text(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def record_md5(rec: dict) -> str:
    joined = _SEP.join(_as_text(rec.get(c)) for c in CHECKED_COLUMNS)
    return hashlib.md5(joined.encode("utf-8")).hexdigest()


def spark_md5_column():
    """The same digest as ``record_md5``, computed on the JVM side over an
    articles DataFrame."""
    from pyspark.sql import functions as F

    return F.md5(F.concat_ws(_SEP, *[
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
        for c in CHECKED_COLUMNS
    ]))


def _reference_chunk(rows: list[tuple[str, bytes]]) -> list[tuple[str, str, bool]]:
    from go_readability_spark.plans import extract_record

    out = []
    for url, html in rows:
        rec = extract_record(url, html)
        out.append((url, record_md5(rec), rec["error"] is not None))
    return out


def start_reference_digests(rows: list[dict], procs: int):
    """Start ``extract_record`` outside Spark over the rows, split over
    ``procs`` spawned processes. -> a function that waits for the pass and
    returns url -> md5."""
    pairs = [(r["url"], r["html"]) for r in rows]
    if procs <= 1:
        return lambda: {u: m for u, m, _ in _reference_chunk(pairs)}
    step = -(-len(pairs) // (procs * 4))
    chunks = [pairs[i:i + step] for i in range(0, len(pairs), step)]
    pool = multiprocessing.get_context("spawn").Pool(procs)
    pending = pool.map_async(_reference_chunk, chunks)

    def wait() -> dict[str, str]:
        try:
            parts = pending.get()
        finally:
            pool.terminate()
            pool.join()
        return {u: m for part in parts for u, m, _ in part}

    return wait


def reference_digests(rows: list[dict], procs: int) -> dict[str, str]:
    """url -> md5 from ``extract_record`` run outside Spark."""
    return start_reference_digests(rows, procs)()


def digest_of(pairs) -> str:
    """Order-independent digest of (url, md5) pairs."""
    lines = sorted(f"{u}\t{m}" for u, m in pairs)
    return hashlib.md5("\n".join(lines).encode("utf-8")).hexdigest()


class CheckResult:
    def __init__(self, attempted: int):
        self.attempted = attempted
        self.failed = 0
        self.problems: list[str] = []

    @property
    def ok(self) -> bool:
        return not self.problems

    def add(self, problem: str) -> None:
        self.problems.append(problem)


def check_articles(reference: dict[str, str],
                   rows: list[tuple[str, str, bool]]) -> CheckResult:
    """``rows`` are (url, md5, has_error) of every committed article.

    A page counts as failed when it is missing, committed more than once
    or committed with a non-null ``error``. Any missing, duplicated or
    unexpected url, and any digest that differs from the reference, makes
    the check fail."""
    res = CheckResult(len(reference))
    counts = Counter(u for u, _, _ in rows)
    missing = [u for u in reference if u not in counts]
    dups = [u for u, c in counts.items() if c > 1]
    extra = [u for u in counts if u not in reference]
    errors = sum(1 for _, _, e in rows if e)
    res.failed = len(missing) + len(dups) + errors
    if len(rows) != len(reference):
        res.add(f"{len(rows)} articles for {len(reference)} input pages")
    if missing:
        res.add(f"{len(missing)} urls missing, e.g. {missing[0]}")
    if dups:
        res.add(f"{len(dups)} urls committed more than once, e.g. {dups[0]}")
    if extra:
        res.add(f"{len(extra)} urls not in the input, e.g. {extra[0]}")
    differ = [u for u, m, _ in rows if u in reference and reference[u] != m]
    if differ:
        res.add(f"{len(differ)} articles differ from the in-process "
                f"extract_record pass, e.g. {differ[0]}")
    return res
