"""Pure-Python model of the reference pipeline, used to check the
``etl_cycles`` workload: fetch transform (Fetch_reddit.py:44-63,
140-168), combine normalisation + first-wins dedup
(Combine_send_to_postgresql.py:49-161) and the ``ON CONFLICT`` upsert
that updates ``UPSERT_UPDATE_COLUMNS`` only."""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import re

# The reference's column contract, kept here rather than imported so a
# change to the program's schemas module shows up as a failed check.
DB_COLUMNS = [
    "thing_key", "thing_type", "id", "created_at", "score", "num_comments",
    "title_sanitized", "author_hash", "permalink", "subreddit", "flair_text",
]
UPSERT_UPDATE_COLUMNS = ["score", "num_comments", "title_sanitized", "subreddit", "flair_text"]

_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_DIGITS = re.compile(r"[0-9]{7,}")
_INT = re.compile(r"[+-]?[0-9]+")


def _h(v, salt: str) -> str:
    return hashlib.sha256((salt + str(v)).encode()).hexdigest() if v else ""


def sanitize(title, max_len: int = 300) -> str:
    t = (title or "").replace("\n", " ")
    t = re.sub(r"\s+", " ", t).strip()
    t = _EMAIL.sub("[redacted-email]", t)
    t = _DIGITS.sub("[redacted-number]", t)
    return t[:max_len]


def fetch_row(raw: dict, salt: str, subreddit: str) -> dict:
    """One listing row as the fetch CSV holds it (all strings)."""
    name = raw.get("name") or (f"t3_{raw['id']}" if raw.get("id") else None)
    created = raw.get("created_utc")
    perm = raw.get("permalink")
    return {
        "thing_key": _h(name, salt),
        "thing_type": "t3",
        "id": _h(raw.get("id"), salt),
        "created_at": "" if created is None else dt.datetime.fromtimestamp(
            int(created), tz=dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "score": "" if raw.get("score") is None else str(raw["score"]),
        "num_comments": "" if raw.get("num_comments") is None else str(raw["num_comments"]),
        "title_sanitized": sanitize(raw.get("title")),
        "author_hash": _h(raw.get("author"), salt),
        "permalink": _h(f"https://www.reddit.com{perm}", salt) if perm else "",
        "subreddit": raw.get("subreddit") or subreddit,
        "flair_text": raw.get("link_flair_text") or "",
    }


def _safe_int(v) -> str:
    s = (v or "").strip()
    return str(int(s)) if _INT.fullmatch(s) else "0"


def normalize(row: dict, salt: str, subreddit: str) -> dict | None:
    """``_normalize_row``: drift coalescing, defaults, permalink
    normalisation, key fallback, int casts; None when the key is empty."""
    g = lambda k: row.get(k) or ""  # noqa: E731
    ident = g("post_id") or g("id")
    perm = (g("permalink") or g("url")).strip().lower().rstrip("/")
    thing_type = g("thing_type") or "t3"
    key = g("thing_key")
    if not key:
        fallback = ident or perm
        key = _h(f"{thing_type}:{fallback}", salt) if fallback else ""
    if not key:
        return None
    return {
        "thing_key": key,
        "thing_type": thing_type,
        "id": ident,
        "created_at": g("created_at"),
        "score": _safe_int(g("score")),
        "num_comments": _safe_int(g("num_comments")),
        "title_sanitized": g("title_sanitized") or g("title"),
        "author_hash": g("author_hash"),
        "permalink": perm,
        "subreddit": g("subreddit") or subreddit,
        "flair_text": g("flair_text"),
    }


def read_csv_bytes(data: bytes) -> list[dict] | None:
    """A side file as DictReader sees it; None for empty/headerless."""
    text = data.decode("utf-8")
    if not text.split("\n", 1)[0].strip():
        return None
    return list(csv.DictReader(io.StringIO(text)))


class Reference:
    """Expected target table across cycles: ``combine`` keeps the first
    row per key in (file name, row) order; ``load`` upserts it."""

    def __init__(self, salt: str, subreddit: str):
        self.salt, self.subreddit = salt, subreddit
        self.target: dict[str, dict] = {}

    def combine(self, files: dict[str, list[dict] | None]) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for name in sorted(files):
            for row in files[name] or []:
                n = normalize(row, self.salt, self.subreddit)
                if n is not None and n["thing_key"] not in out:
                    out[n["thing_key"]] = n
        return out

    def load(self, combined: dict[str, dict]) -> None:
        for key, row in combined.items():
            cur = self.target.get(key)
            if cur is None:
                self.target[key] = dict(row)
            else:
                for c in UPSERT_UPDATE_COLUMNS:
                    cur[c] = row[c]


def diff_tables(want: dict[str, dict], got: dict[str, dict]) -> list[str]:
    """One line per kind of difference — keys only in the model, keys
    only in the program, and each column whose values differ — with the
    number of keys it affects and one example (None and '' are the same
    value). A new defect therefore adds a line instead of hiding behind
    a known one."""
    out = []
    for side, keys in (("model", sorted(set(want) - set(got))),
                       ("program", sorted(set(got) - set(want)))):
        if keys:
            out.append(f"{len(keys)} keys only in the {side}, e.g. {keys[0][:12]}")
    both = sorted(set(want) & set(got))
    for c in DB_COLUMNS:
        keys = [k for k in both if (want[k].get(c) or "") != (got[k].get(c) or "")]
        if keys:
            k = keys[0]
            out.append(f"col {c}: {len(keys)} keys differ, e.g. key {k[:12]} "
                       f"model {want[k].get(c) or ''!r} program {got[k].get(c) or ''!r}")
    return out
