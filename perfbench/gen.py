"""Deterministic input generators for the perfbench workloads.

Every generator is a pure function of ``(seed, index)``: the same seed
gives byte-identical files, so two runs (or two commits) see the same
inputs. ``inputs_sha256`` hashes a fixed prefix of each workload's
input stream and is recorded in every result.

* ``etl_cycles``  — Reddit listing rows (Zipf-popular post ids so
  re-fetches repeat keys, titles that hit every sanitize rule), gen-1
  legacy CSVs in both drift variants, empty/headerless files and a
  periodic backlog of late gen-1 files.
* ``ingest_drain`` — document parquet files whose token lengths and
  vocabulary are drawn from the ``documents`` snapshot, with planted
  exact re-deliveries, near-duplicates and drifted (short-doc) files.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- common


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, purpose, index)."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def sha256_of(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c if isinstance(c, bytes) else json.dumps(c, sort_keys=True).encode())
    return h.hexdigest()


# ---------------------------------------------------------------- etl_cycles

FETCHES_PER_CYCLE = 6  # one hour at the reference's */10 fetch cadence
LISTING_ROWS = 100
N_POSTS = 400
BACKLOG_EVERY = 2  # every second cycle also drains a backlog of late files
BACKLOG_FILES = 2
_T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_WORDS = (
    "rome venice florence milan naples trip train hotel food museum beach "
    "lake pasta ferry tour guide budget week summer winter"
).split()
_FLAIRS = ["Itinerary", "Question", "Trip Report", None, ""]
# one title per sanitize rule (sources: Fetch_reddit.py:44-55), mixed in
_ODD_TITLES = [
    "line one\nline two",
    "tabs\tand\u00a0nbsp\u2003spaces",
    "   padded title   ",
    "write me at someone.name+trip@example.co.uk please",
    "call 39061234567 or 0039 06 1234",
    "x" * 340,
    "quote \"inside\" and, comma",
    "",
    None,
]


def _post_id(i: int) -> str:
    return np.base_repr(36**5 + i * 7919, 36).lower()


def cycle_run_ts(cycle: int, fetch: int) -> str:
    t = _T0 + dt.timedelta(hours=cycle, minutes=10 * fetch)
    return t.strftime("%Y%m%dT%H%M%S")


def listing_rows(seed: int, cycle: int, fetch: int) -> list[dict]:
    """One listing page: ``LISTING_ROWS`` distinct posts drawn without
    replacement from a Zipf-popular pool, with counters that grow over
    time and occasional title edits, so re-fetches update keys."""
    r = rng(seed, 1, cycle, fetch)
    w = 1.0 / np.arange(1, N_POSTS + 1) ** 1.1
    picks = r.choice(N_POSTS, size=LISTING_ROWS, replace=False, p=w / w.sum())
    tick = cycle * FETCHES_PER_CYCLE + fetch
    rows = []
    for p in picks.tolist():
        pr = rng(seed, 2, p)  # per-post constants
        pid = _post_id(p)
        base = pr.choice(_WORDS, size=int(pr.integers(3, 9))).tolist()
        if pr.random() < 0.25:
            title = _ODD_TITLES[int(pr.integers(len(_ODD_TITLES)))]
        else:
            title = " ".join(base).capitalize()
        if r.random() < 0.05:  # an edit since the last fetch
            title = f"{title or ''} (edit {tick})"
        created = _T0.timestamp() - float(pr.integers(0, 86400 * 30))
        rows.append(
            {
                "name": None if pr.random() < 0.05 else f"t3_{pid}",
                "id": pid,
                "created_utc": None if pr.random() < 0.02 else float(int(created)),
                "score": int(pr.integers(0, 50) + tick * pr.integers(0, 4)),
                "num_comments": None if pr.random() < 0.03 else int(pr.integers(0, 20) + tick),
                "title": title,
                "author": None if pr.random() < 0.05 else f"user_{int(pr.integers(0, 150))}",
                "permalink": f"/r/ItalyTravel/comments/{pid}/{'_'.join(base)}/",
                "subreddit": ["ItalyTravel", "", None][int(pr.choice(3, p=[0.9, 0.05, 0.05]))],
                "link_flair_text": _FLAIRS[int(pr.integers(len(_FLAIRS)))],
            }
        )
    return rows


def _csv_bytes(header: list[str], rows: list[list]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def side_files(seed: int, cycle: int) -> list[tuple[str, bytes]]:
    """Files that land in the inbox before a cycle's combine besides the
    six fetch CSVs: gen-1 legacy CSVs (``id/permalink`` and
    ``post_id/url`` variants), an empty and a headerless file, and —
    every ``BACKLOG_EVERY`` cycles — gen-1 backlog files re-sending
    popular posts. Names carry the ``italytravel_`` prefix so the
    combine's glob picks them up."""
    r = rng(seed, 3, cycle)
    out: list[tuple[str, bytes]] = []

    def legacy_rows(n: int) -> list[tuple[str, list]]:
        rows = []
        for _ in range(n):
            p = int(r.integers(0, N_POSTS // 2))
            pid = "" if r.random() < 0.05 else _post_id(p)
            # Stripped at the ends: the program's CSV sink trims field-end
            # whitespace (a known defect, probed by workloads.EtlCycles and
            # reported under ``known_defects``), so a padded gen-1 title
            # would fail every combine that carries it.
            title = (_ODD_TITLES[int(r.integers(len(_ODD_TITLES)))] or "").strip() or "legacy post"
            score = ["3", "3.5", "", " 12 ", "-4"][int(r.integers(5))]
            url = f"https://www.reddit.com/r/ItalyTravel/comments/{_post_id(p)}/Post/"
            if r.random() < 0.3:
                url = f"  {url.upper()}// "
            rows.append((pid, [f"author{p}", title, score, str(int(r.integers(0, 9))),
                               "2025-12-01T10:00:00Z", url]))
        return rows

    ts = cycle_run_ts(cycle, 0)
    a = legacy_rows(int(r.integers(5, 15)))
    out.append((
        f"italytravel_legacy_{ts}_a.csv",
        _csv_bytes(["id", "author", "title", "score", "num_comments", "created_at", "permalink"],
                   [[pid, *rest] for pid, rest in a]),
    ))
    b = legacy_rows(int(r.integers(5, 15)))
    out.append((
        f"italytravel_legacy_{ts}_b.csv",
        _csv_bytes(["post_id", "author", "title", "score", "num_comments", "created_at", "url"],
                   [[pid, *rest] for pid, rest in b]),
    ))
    out.append((f"italytravel_empty_{ts}.csv", b""))
    out.append((f"italytravel_noheader_{ts}.csv", b"\n"))
    if cycle % BACKLOG_EVERY == BACKLOG_EVERY - 1:
        for k in range(BACKLOG_FILES):
            rows = legacy_rows(40)
            out.append((
                f"italytravel_backlog_{ts}_{k}.csv",
                _csv_bytes(["id", "author", "title", "score", "num_comments", "created_at", "permalink"],
                           [[pid, *rest] for pid, rest in rows]),
            ))
    return out


def etl_inputs_sha256(seed: int, cycles: int = 4) -> str:
    def chunks():
        for c in range(cycles):
            for f in range(FETCHES_PER_CYCLE):
                yield listing_rows(seed, c, f)
            for name, data in side_files(seed, c):
                yield name.encode()
                yield data

    return sha256_of(chunks())


# ---------------------------------------------------------------- ingest_drain

SNAPSHOT_DOCS = 500  # the documents table's size at sf0.01 (TESTDATA.md)
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def documents_table(seed: int, n: int = SNAPSHOT_DOCS) -> pa.Table:
    r = rng(seed, 10)
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:  # planted near-dup of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(DOC_VOCAB, size=int(r.integers(10, 100)))))
    langs = r.choice(["en", "zh", "es", "de", "fr"], size=n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


INGEST_SCHEMA = "doc_id long, text string"
# 100-doc files, the file size of the drain measured when the benchmark
# was designed (4 x 100 docs, 25-40 s on local[4]). Three files, not
# four, is a choice for the time budget: it keeps two ordinary files, so
# every post-drift stage still runs more than one micro-batch per drain.
# One file per drain is drifted, a chosen share: no measured figure for
# it exists.
DOCS_PER_FILE = 100
FILES_PER_DRAIN = 3
DRIFTED_PER_DRAIN = 1
ID_BASE = 1_000_000


def _bin(n_tokens: int) -> int:
    """The drift gate's default token-length bin (20 wide, 10 bins)."""
    return min(n_tokens // 20, 9)


def ingest_files(
    seed: int, drain: int, snapshot_lengths: list[int], vocab: list[str],
    earlier: list[tuple[int, str]],
) -> list[dict]:
    """The files of drain ``drain``: ``FILES_PER_DRAIN`` parquet payloads
    as ``{"name", "kind", "rows", "planted": {doc_id: (kind, of_id)}}``.

    Normal docs take their token count from a stratified draw over the
    snapshot's lengths (so a file's length histogram tracks the frozen
    reference and the drift gate admits it) and their words from the
    snapshot vocabulary. Each normal file re-delivers some of its own
    earlier docs verbatim (exact dup, larger id) and, once ``earlier``
    (doc_id, text) of previous drains exists, some of those verbatim or
    with one appended token (near-dup). ``DRIFTED_PER_DRAIN`` files, at
    seeded positions, are drifted: they hold 2-4-token docs only and
    must be quarantined whole."""
    r = rng(seed, 20, drain)
    lengths = np.sort(np.asarray(snapshot_lengths))
    drifted = set(r.choice(FILES_PER_DRAIN, DRIFTED_PER_DRAIN, replace=False).tolist())
    files = []
    for f in range(FILES_PER_DRAIN):
        base_id = ID_BASE + (drain * FILES_PER_DRAIN + f) * 1000
        name = f"drain{drain:05d}_{f}.parquet"
        rows, planted = [], {}
        if f in drifted:
            for k in range(DOCS_PER_FILE):
                rows.append((base_id + k, " ".join(r.choice(vocab, int(r.integers(2, 5))))))
            files.append({"name": name, "kind": "drifted", "rows": rows, "planted": {}})
            continue
        q = (np.arange(DOCS_PER_FILE) + r.random()) / DOCS_PER_FILE
        draws = lengths[(q * len(lengths)).astype(int)]
        r.shuffle(draws)
        for k, n_tok in enumerate(draws.tolist()):
            doc_id = base_id + k
            # a planted copy replaces a drawn doc of the same length bin,
            # so the file's histogram stays the stratified one
            same_bin = lambda text, extra=0: _bin(len(text.split()) + extra) == _bin(n_tok)  # noqa: E731
            if k >= DOCS_PER_FILE - 3:  # exact re-delivery within the file
                pool = [(i, t) for i, t in rows[5:] if i not in planted and same_bin(t)]
                kind = "exact"
            elif earlier and k < 3:  # exact re-delivery of an earlier drain's doc
                pool, kind = [(i, t) for i, t in earlier if same_bin(t)], "exact"
            elif earlier and k < 5:  # near-dup: one extra token
                pool, kind = [(i, t) for i, t in earlier if same_bin(t, 1)], "near"
            else:
                pool, kind = [], None
            if pool:
                oid, otext = pool[int(r.integers(len(pool)))]
                if kind == "near":
                    otext += " " + str(r.choice(vocab))
                rows.append((doc_id, otext))
                planted[doc_id] = (kind, oid)
            else:
                rows.append((doc_id, " ".join(r.choice(vocab, int(n_tok)))))
        files.append({"name": name, "kind": "normal", "rows": rows, "planted": planted})
    return files


def write_ingest_file(spec: dict, path: str, mtime: float) -> int:
    ids, texts = zip(*spec["rows"])
    t = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    # hidden staging name: the file source ignores dot-files, so a
    # drain never sees a half-written input
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(t, tmp, compression="snappy")
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
    return os.path.getsize(path)
