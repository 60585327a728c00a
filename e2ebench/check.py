"""Output check: every input url exactly once, no error, and text
byte-identical to what ``extract_document`` returns for the same bytes.

Texts are compared by MD5 digest of their UTF-8 bytes, so a Spark output can
be digested JVM-side (``F.md5("text")``) and only 32-character digests cross
back into Python.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
import subprocess
import sys
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_PATH = os.path.join(REPO, "goldens", "extracted_sf_small.jsonl")


def digest(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    problems: Counter = field(default_factory=Counter)

    def add(self, other: "Verdict") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems.update(other.problems)


def check_rows(expected: dict[str, str],
               got: list[tuple[str, str | None, str | None]]) -> Verdict:
    """Compare output rows ``(url, text_digest, error)`` with ``expected``
    (url -> text digest). Each expected url that is missing, duplicated,
    errored or wrong counts as one failure; each row for a url nobody asked
    for counts as one more."""
    rows_by_url: dict[str, list] = {}
    extra = 0
    for url, dg, err in got:
        if url in expected:
            rows_by_url.setdefault(url, []).append((dg, err))
        else:
            extra += 1
    v = Verdict(attempted=len(expected))
    for url, want in expected.items():
        rows = rows_by_url.get(url, [])
        if not rows:
            v.problems["missing"] += 1
        elif len(rows) > 1:
            v.problems["duplicate"] += 1
        elif rows[0][1] is not None:
            v.problems["error"] += 1
        elif rows[0][0] != want:
            v.problems["text_mismatch"] += 1
    if extra:
        v.problems["extra"] += extra
    v.failed = sum(v.problems.values())
    return v


def golden_digests() -> dict[str, str]:
    """url -> digest of the frozen golden text."""
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        recs = [json.loads(line) for line in fh]
    return {r["url"]: digest(r["text"]) for r in recs}


def _digests_of(rows) -> list[tuple[str, str]]:
    from ocr_spark.core.extract import extract_document
    out = []
    for url, html in rows:
        res = extract_document(url, html)
        if res.error is not None:
            raise ValueError(f"reference extraction failed for {url}: "
                             f"{res.error}")
        out.append((url, digest(res.text)))
    return out


def reference_digests(parquet_path: str, workers: int = 4) -> dict[str, str]:
    """url -> digest of ``extract_document``'s text for every row of the
    parquet file, computed by ``workers`` child interpreters that have all
    exited before this returns. Rows go to workers largest first, round
    robin, so the big documents are spread out."""
    procs = [subprocess.Popen(
        [sys.executable, "-m", "e2ebench.check", parquet_path, str(k),
         str(workers)], cwd=REPO, stdout=subprocess.PIPE, text=True,
        env={**os.environ, "PYTHONPATH": REPO}) for k in range(workers)]
    out: dict[str, str] = {}
    for p in procs:
        stdout, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"reference digest worker exited "
                               f"{p.returncode}")
        out.update(json.loads(stdout))
    return out


def _worker(parquet_path: str, k: int, n: int) -> None:
    import pyarrow.parquet as pq
    t = pq.read_table(parquet_path, columns=["url", "html"])
    rows = sorted(zip(t.column("url").to_pylist(),
                      t.column("html").to_pylist()),
                  key=lambda r: -len(r[1]))[k::n]
    json.dump(dict(_digests_of(rows)), sys.stdout)


if __name__ == "__main__":
    _worker(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
