"""Input builders for the three benchmark workloads.

Every input is a pure function of (seed, row id), so the same seed gives
the same rows on any partitioning. The program under test only ever
sees the generated rows; the seed stays on this side.

* ``web_pages`` — rows straight from the corpus generator
  (``textgrammar.generator.build_example``), ≈144 chars each.
* ``long_pages`` — each page joins generator rows with blank lines until
  it is ``PAGE_CHARS`` long (≈33 rows, ≈1.3k tokens), truth spans
  shifted to the joined offsets; equal lengths keep the share of a page
  past the 512-token cap steady from run to run. One page in
  ``HOSTILE_EVERY`` (≈1 in 100) ends with a dotted local-part run
  before a mail-domain word: the quadratic email-scan shape, bounded
  at ≈2k chars (≈0.5 s of serve CPU per page).
* ``resumable_job`` — web pages, read from a parquet directory by
  ``run_quality_job``.
"""

from __future__ import annotations

from pathlib import Path

PAGE_CHARS = 4800      # a long page takes rows until it is this long
MAX_PARTS = 64         # row ids reserved per page
PAGE_SEP = "\n\n"
HOSTILE_EVERY = 96     # one hostile page per timed repetition of 96
HOSTILE_TAIL = "Mailing list archive: " + "abc.def_" * 250 + " gmail"


def _schema():
    """An input row: generate_full's columns without html (the pipeline
    prunes html at the scan; writing it would only slow set-up)."""
    import pyarrow as pa

    span = pa.struct([("start", pa.int32()), ("end", pa.int32()),
                      ("label", pa.string())])
    return pa.schema([
        ("doc_id", pa.int64()), ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")), ("text", pa.string()),
        ("lang", pa.string()), ("kind", pa.string()),
        ("spans", pa.list_(span)),
    ])


def derived_seed(seed: int, slot: int) -> int:
    """Seed of one input set inside a run. Slot 0 is the warm-up; every
    timed repetition takes its own slot, so no timed doc was served
    before in the same session (workers and their memos persist
    across actions)."""
    if seed < 0 or not 0 <= slot < 1000:
        raise ValueError("seed must be >= 0 and slot in [0, 1000)")
    return seed * 1000 + slot


def is_hostile(seed: int, page_id: int) -> bool:
    """Exactly one page in every HOSTILE_EVERY consecutive page ids, at
    a seed-dependent phase."""
    return (page_id + seed) % HOSTILE_EVERY == 0


def build_long_page(seed: int, page_id: int) -> dict:
    """One long page: generator rows joined by blank lines until the
    page reaches PAGE_CHARS, truth spans shifted by each part's offset.
    Row ids of page p start at p * MAX_PARTS, so pages never share a
    row."""
    from pii_spark.textgrammar.generator import build_example

    parts, spans = [], []
    offset = 0
    first = None
    for j in range(MAX_PARTS):
        if offset >= PAGE_CHARS:
            break
        ex = build_example(seed, page_id * MAX_PARTS + j)
        first = first or ex
        for s in ex["spans"]:
            spans.append({"start": s["start"] + offset,
                          "end": s["end"] + offset, "label": s["label"]})
        parts.append(ex["text"])
        offset += len(ex["text"]) + len(PAGE_SEP)
    kind = "long"
    if is_hostile(seed, page_id):
        parts.append(HOSTILE_TAIL)
        kind = "long_hostile"
    text = PAGE_SEP.join(parts)
    return {
        "doc_id": page_id,
        "url": f"{first['url']}/p{page_id}",
        "warc_ts": first["warc_ts"],
        "text": text,
        "lang": first["lang"],
        "kind": kind,
        "spans": spans,
    }


def write_slot(workload: str, seed: int, slot: int, rows: int, path,
               files: int) -> None:
    """Write input slot ``slot`` (``rows`` rows from
    ``derived_seed(seed, slot)``) as ``files`` parquet files under
    ``path/slot=<slot>`` — several files, because ``run_quality_job``
    deals files into groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pii_spark.textgrammar.generator import build_example

    build = build_long_page if workload == "long_pages" else build_example
    s = derived_seed(seed, slot)
    out = Path(path) / f"slot={slot}"
    out.mkdir(parents=True, exist_ok=True)
    per_file = -(-rows // files)
    schema = _schema()
    for f in range(files):
        batch = [build(s, i)
                 for i in range(f * per_file, min(rows, (f + 1) * per_file))]
        table = pa.Table.from_pylist(
            [{k: r[k] for k in schema.names} for r in batch], schema=schema)
        pq.write_table(table, out / f"part-{f:05d}.parquet")


def start_inputs(workload: str, rows: int, slots: int, seed: int, path,
                 files: int):
    """Start a child interpreter writing slots 0..slots-1 and return it;
    generation then overlaps the JVM start-up. The caller waits for it
    (``join_inputs``)."""
    import subprocess
    import sys

    root = Path(__file__).resolve().parent.parent
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.workloads", workload, str(rows),
         str(slots), str(seed), str(path), str(files)], cwd=root)


def join_inputs(proc, timeout_s: float = 120.0) -> None:
    if proc.wait(timeout=timeout_s) != 0:
        raise RuntimeError(f"input generation failed: exit {proc.returncode}")


if __name__ == "__main__":
    import sys

    wl, rows, slots, seed, path, files = sys.argv[1:]
    for slot in range(int(slots)):
        write_slot(wl, int(seed), slot, int(rows), path, int(files))
