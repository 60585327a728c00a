"""Seeded input generator for the end-to-end benchmark.

Every document comes from ``ocr_spark.gen.corpus.make_row`` (the repo's own
synthetic Common-Crawl page generator); this module only decides which rows
make up a corpus and renames their urls into a per-seed namespace:

* **fixture share** is exactly 10%: slot ``k`` holds a layout fixture iff
  ``k % 10 == 7`` (``make_row`` is called with ``fixture_frac=0.1``; above
  1/8 it would silently emit no fixtures at all, which the mix check below
  would catch);
* **hot-host share** is whatever ``make_row``'s per-row coin gives (~50%);
* **oversized pages** (~10 MB each) are the rows ``make_row`` makes big;
* **bytes**: each ordinary slot picks one of two seeded candidate rows of the
  same kind, whichever keeps the running byte total closer to the
  seed-independent target, so the amount of work cannot depend on the seed.

``check_mix`` asserts all four properties, and that no url collides with the
120-doc golden slice (``generate_pages(120, seed=42, oversized_rows=0)``).
"""

from __future__ import annotations

from ocr_spark.gen.corpus import HOT_HOST, generate_pages, make_row

FIXTURE_FRAC = 0.1
# Mean payload bytes per ordinary document, by kind, measured over seeds
# 1-5 of make_row; the byte targets below are built from these constants only.
MEAN_HTML_BYTES = 3020
MEAN_FIXTURE_BYTES = 7400
OVERSIZED_MIN_BYTES = 10_000_000
BYTES_TOLERANCE = 0.01
HOT_SHARE_RANGE = (0.44, 0.56)

GOLDEN_SEED = 42
GOLDEN_DOCS = 120


def golden_rows() -> list[dict]:
    """The 120-doc slice whose extracted text is frozen in
    ``goldens/extracted_sf_small.jsonl``."""
    return generate_pages(GOLDEN_DOCS, seed=GOLDEN_SEED, oversized_rows=0)


def _is_fixture_slot(k: int) -> bool:
    return k % int(round(1 / FIXTURE_FRAC)) == 7


def target_bytes(n_docs: int) -> int:
    """Seed-independent byte target of ``n_docs`` ordinary docs."""
    n_fix = sum(_is_fixture_slot(k) for k in range(n_docs))
    return (n_docs - n_fix) * MEAN_HTML_BYTES + n_fix * MEAN_FIXTURE_BYTES


def _rename(row: dict, namespace: str) -> dict:
    """``https://host/page/i`` -> ``https://host/<namespace>/page/i``."""
    scheme, rest = row["url"].split("://", 1)
    host, path = rest.split("/", 1)
    return {**row, "url": f"{scheme}://{host}/{namespace}/{path}"}


def make_corpus(seed: int, n_docs: int, n_oversized: int,
                namespace: str) -> list[dict]:
    """``n_docs`` ordinary rows in slot order, then ``n_oversized`` ~10 MB
    pages.

    Candidate rows for slot ``k`` are ``make_row`` indices ``k`` and
    ``k + n_docs``; ``n_docs`` is a multiple of 10 so both share the slot's
    kind. The oversized pages are the rows ``make_row`` itself makes big,
    renamed into a namespace of their own.
    """
    if n_docs % 10:
        raise ValueError(f"n_docs must be a multiple of 10, got {n_docs}")
    span = 2 * n_docs

    def row(i: int, big: int = 0) -> dict:
        return make_row(i, seed=seed, n_rows=span, fixture_frac=FIXTURE_FRAC,
                        oversized_rows=big)

    rows: list[dict] = []
    total = want = 0
    for k in range(n_docs):
        want += MEAN_FIXTURE_BYTES if _is_fixture_slot(k) else MEAN_HTML_BYTES
        a, b = row(k), row(k + n_docs)
        pick = min((a, b), key=lambda r: abs(total + len(r["html"]) - want))
        total += len(pick["html"])
        rows.append(_rename(pick, namespace))
    big_idx = sorted({3, span // 2, (3 * span) // 4} - {7})[:n_oversized]
    rows += [_rename(row(i, n_oversized), f"{namespace}-big")
             for i in big_idx]
    return rows


def check_mix(rows: list[dict], n_oversized: int) -> dict:
    """Assert the mix ``make_corpus`` promises; return it for the record."""
    sizes = [len(r["html"]) for r in rows]
    big = [s for s in sizes if s >= OVERSIZED_MIN_BYTES]
    n = len(rows) - len(big)
    fixtures = sum(r["url"].endswith(".pdf") for r in rows)
    hot = sum(r["url"].split("/")[2] == HOT_HOST for r in rows)
    ordinary = sum(sizes) - sum(big)
    target = target_bytes(n)
    golden = {r["url"] for r in golden_rows()}
    mix = {"docs": n, "fixtures": fixtures, "hot_host": hot,
           "oversized": len(big), "bytes": sum(sizes),
           "ordinary_bytes": ordinary, "ordinary_bytes_target": target}
    if fixtures != sum(_is_fixture_slot(k) for k in range(n)):
        raise AssertionError(f"fixture share off: {mix}")
    if not HOT_SHARE_RANGE[0] <= hot / n <= HOT_SHARE_RANGE[1]:
        raise AssertionError(f"hot-host share off: {mix}")
    if len(big) != n_oversized:
        raise AssertionError(f"oversized count off: {mix}")
    if abs(ordinary - target) > BYTES_TOLERANCE * target:
        raise AssertionError(f"input bytes off target: {mix}")
    if len({r["url"] for r in rows}) != len(rows):
        raise AssertionError("duplicate urls in corpus")
    if golden & {r["url"] for r in rows}:
        raise AssertionError("corpus urls collide with the golden slice")
    return mix
