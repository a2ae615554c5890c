"""Seeded inputs for the benchmark.

Everything here is pure Python/NumPy: the program under test sees only
the files these functions write.  One seed gives byte-identical inputs
(``digest`` of a second generation is compared against the first).

* Raw S3 server-access-log objects named the way S3 delivers them,
  ``<bucket>/<YYYY-MM-DD>-HH-MM-SS-<id>``, with the FIXTURES.md §1 row
  mix: ~90% well-formed, ~5% dash-heavy, ~3% long-format and ~2%
  garbage lines.  Every line's timestamp lies inside its object's
  stated day; late objects carry lines from several earlier days.
  Keys embed a written date 0-899 days before the read, so the Days
  Apart ``days_apart > 400`` filter selects a proper subset.
* A document corpus with planted exact-duplicate groups, planted
  near-duplicates (two words substituted) and BM25 queries whose
  scores are computed here, in plain Python.
* Unit embeddings with planted near-duplicate copies.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
from dataclasses import dataclass

import numpy as np

SOURCE_BUCKET = "monitored-bucket"
FIRST_DAY = _dt.date(2024, 3, 4)

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_OWNERS = [hashlib.sha256(b"owner%d" % i).hexdigest() for i in range(8)]
_BUCKETS = ["awsexamplebucket", "logs-bucket", "data-bucket"]
_OPERATIONS = [
    "REST.GET.OBJECT", "REST.GET.OBJECT", "REST.GET.OBJECT",
    "REST.PUT.OBJECT", "REST.HEAD.OBJECT", "REST.GET.VERSIONING", "BATCH.DELETE.OBJECT",
]
_STATUS = [200, 200, 200, 206, 304, 403, 404, 500]
_AGENTS = ['"S3Console/0.4"', '"aws-sdk-java/1.11.100"', '"Boto3/1.9.201"', '"-"']
_LONG_TAIL = (" qwerAADDff= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader "
              "s3.us-west-2.amazonaws.com TLSv1.2")
# (line, is_blank): blank lines are skipped by the parser, the rest
# become dead-letter rows
_GARBAGE = [
    ("truncated line without enough fields", False),
    ("\x00\x01binaryjunk\x7f", False),
    ("   ", True),
    ("a b", False),
]


def day_str(day: _dt.date) -> str:
    return day.strftime("%Y-%m-%d")


def next_day(day: str) -> str:
    return day_str(_dt.date.fromisoformat(day) + _dt.timedelta(days=1))


@dataclass
class DayTotals:
    """What the parser must produce for a set of lines."""

    rows: int = 0  # non-blank lines (parsed + dead-letter)
    dead_letter: int = 0
    bytes_sent: int = 0

    def add(self, other: "DayTotals") -> None:
        self.rows += other.rows
        self.dead_letter += other.dead_letter
        self.bytes_sent += other.bytes_sent


@dataclass
class LogInputs:
    raw_root: str  # <raw_root>/<SOURCE_BUCKET>/<object>
    late_dir: str  # late objects, read by the streaming catch-up
    days: list[str]
    on_time: dict[str, DayTotals]  # by delivery day
    late: dict[str, DayTotals]  # by event day; "_dead_letter" for garbage
    lines_on_time: dict[str, int]  # raw lines (blank included) per day
    raw_bytes_on_time: dict[str, int]
    raw_bytes_late: int
    lines_late: int
    digest: str = ""


def _log_lines(rng: np.random.Generator, n: int, event_days: list[_dt.date],
               totals: dict[str, DayTotals], clock: list[str],
               dead_key: str | None = None) -> list[str]:
    """``n`` lines whose timestamps fall inside ``event_days`` (uniform).

    ``totals`` is updated per event day; dead-letter rows count under
    ``dead_key`` when given (the streaming path files them apart).
    ``clock[s]`` is the ``HH:MM:SS +0000]`` tail for second ``s``."""
    # draw every column up front, then format from plain Python lists
    kind = rng.random(n).tolist()
    day_ix = rng.integers(0, len(event_days), n).tolist()
    secs = rng.integers(0, 86400, n).tolist()
    owner = rng.integers(0, len(_OWNERS), n).tolist()
    bucket = rng.integers(0, len(_BUCKETS), n).tolist()
    ip = rng.integers(1, 255, n).tolist()
    req_kind = rng.integers(0, 3, n).tolist()
    role = rng.integers(0, 5, n).tolist()
    inst = rng.integers(0, 1 << 32, n, dtype=np.uint64).tolist()
    user = rng.integers(0, 10, n).tolist()
    reqid = rng.integers(0, 1 << 62, n, dtype=np.uint64).tolist()
    op = rng.integers(0, len(_OPERATIONS), n).tolist()
    key_null = (rng.random(n) < 0.05).tolist()
    service = rng.integers(0, 10, n).tolist()
    written_back = rng.integers(0, 900, n).tolist()
    part = rng.integers(0, 100_000, n).tolist()
    status = rng.integers(0, len(_STATUS), n).tolist()
    nbytes = rng.integers(100, 10_000_000, n).tolist()
    extra = rng.integers(0, 1000, n).tolist()
    total = rng.integers(5, 5000, n).tolist()
    turn_frac = rng.random(n).tolist()
    agent = rng.integers(0, len(_AGENTS), n).tolist()
    garbage = rng.integers(0, len(_GARBAGE), n).tolist()

    stamp_prefix = [
        f"[{d.day:02d}/{_MONTHS[d.month - 1]}/{d.year}:" for d in event_days
    ]
    keys = [day_str(d) for d in event_days]
    written = [
        [(d - _dt.timedelta(days=back)).strftime("%Y/%m/%d") for back in range(900)]
        for d in event_days
    ]
    lines = []
    for i in range(n):
        di = day_ix[i]
        k = kind[i]
        tot = totals.setdefault(keys[di], DayTotals())
        if k >= 0.98:
            text, blank = _GARBAGE[garbage[i]]
            lines.append(text)
            if not blank:
                dl = totals.setdefault(dead_key, DayTotals()) if dead_key else tot
                dl.rows += 1
                dl.dead_letter += 1
            continue
        tot.rows += 1
        t = stamp_prefix[di] + clock[secs[i]]
        rid = "%016X" % reqid[i]
        if 0.90 <= k < 0.95:  # dash-heavy: every NULL-coercion branch
            lines.append(
                f"{_OWNERS[owner[i]]} databucket {t} 192.0.2.9 - {rid} "
                'REST.GET.OBJECT - "-" - - - - - - "-" "-" -'
            )
            continue
        rk = req_kind[i]
        if rk == 0:
            requester = f"arn:aws:sts::123456789012:assumed-role/reader-{role[i]}/i-{inst[i]:08x}"
        elif rk == 1:
            requester = f"arn:aws:iam::123456789012:user/user{user[i]}"
        else:
            requester = "-"
        b = _BUCKETS[bucket[i]]
        if key_null[i]:
            key = "-"
            request = '"-"'
        else:
            key = f"logs/service-{service[i]}/{written[di][written_back[i]]}/part-{part[i]:05d}.tgz"
            request = f'"GET /{b}/{key} HTTP/1.1"'
        nb = nbytes[i]
        tot.bytes_sent += nb
        tt = total[i]
        line = (
            f"{_OWNERS[owner[i]]} {b} {t} 192.0.2.{ip[i]} {requester} {rid} "
            f"{_OPERATIONS[op[i]]} {key} {request} {_STATUS[status[i]]} - {nb} "
            f"{nb + extra[i]} {tt} {int(turn_frac[i] * tt)} \"-\" {_AGENTS[agent[i]]} -"
        )
        if k >= 0.95:  # long-format: trailing post-2019 fields
            line += _LONG_TAIL
        lines.append(line)
    return lines


def _write(path: str, lines: list[str], h) -> int:
    data = ("\n".join(lines) + "\n").encode("utf-8")
    h.update(path.rsplit("/", 1)[-1].encode())
    h.update(data)
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def make_logs(root: str, seed: int, n_days: int, objects_per_day: int,
              lines_per_object: int, late_objects: int, late_span_days: int) -> LogInputs:
    """Raw objects for ``n_days`` delivery days plus ``late_objects``
    late deliveries, each holding lines from ``late_span_days`` earlier
    days (the streaming catch-up input)."""
    rng = np.random.default_rng([seed, 1])
    h = hashlib.sha256()
    raw_root = os.path.join(root, "raw")
    late_dir = os.path.join(root, "late")
    os.makedirs(os.path.join(raw_root, SOURCE_BUCKET), exist_ok=True)
    os.makedirs(late_dir, exist_ok=True)
    days = [FIRST_DAY + _dt.timedelta(days=i) for i in range(n_days)]
    clock = [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d} +0000]" for s in range(86400)]
    on_time: dict[str, DayTotals] = {}
    lines_on_time: dict[str, int] = {}
    raw_bytes: dict[str, int] = {}
    for d in days:
        ds = day_str(d)
        lines_on_time[ds] = 0
        raw_bytes[ds] = 0
        for j in range(objects_per_day):
            hh, mm = divmod(j * 1440 // objects_per_day, 60)
            name = f"{ds}-{hh:02d}-{mm:02d}-{j:02d}-{seed & 0xFFFF:04X}{j:04X}"
            lines = _log_lines(rng, lines_per_object, [d], on_time, clock)
            lines_on_time[ds] += len(lines)
            raw_bytes[ds] += _write(os.path.join(raw_root, SOURCE_BUCKET, name), lines, h)
    late: dict[str, DayTotals] = {}
    late_bytes = 0
    late_lines = 0
    span = days[-late_span_days:]
    for j in range(late_objects):
        name = f"{next_day(day_str(days[-1]))}-00-{j:02d}-00-LATE{j:04X}"
        lines = _log_lines(rng, lines_per_object, span, late, clock, dead_key="_dead_letter")
        late_lines += len(lines)
        late_bytes += _write(os.path.join(late_dir, name), lines, h)
    return LogInputs(raw_root, late_dir, [day_str(d) for d in days], on_time, late,
                     lines_on_time, raw_bytes, late_bytes, late_lines, h.hexdigest())


# ---------------------------------------------------------------- corpus


@dataclass
class CorpusInputs:
    docs_path: str
    emb_path: str
    n_docs: int
    n_vecs: int
    exact_groups: set[tuple[int, ...]]  # sorted member ids
    near_pairs: set[tuple[int, int]]  # (original, copy), original < copy
    vec_copies: set[int]  # planted near-duplicate embedding ids
    bm25_queries: list[tuple[str, str]]
    bm25_scores: dict[str, dict[int, float]]  # query id -> doc id -> BM25 score
    digest: str = ""


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnoprstuvwy"))
    out = set()
    while len(out) < n:
        ln = int(rng.integers(4, 10))
        out.add("".join(letters[rng.integers(0, len(letters), ln)]))
    return sorted(out)


def make_corpus(root: str, seed: int, n_base_docs: int, n_base_vecs: int,
                dim: int = 64, dup_frac: float = 0.04, near_frac: float = 0.04) -> CorpusInputs:
    """Documents and embeddings as Parquet, with planted duplicates.

    Exact groups: ``dup_frac`` of the base docs get one or two verbatim
    copies.  Near-duplicates: ``near_frac`` of the base docs get one
    copy with two words substituted (character 5-gram Jaccard ~0.9).
    Embeddings: ``near_frac`` of the base vectors get a copy at cosine
    > 0.99.  Copies always get larger ids than their originals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _words(rng, 20_000)
    texts: list[str] = []
    for _ in range(n_base_docs):
        ln = int(rng.integers(20, 60))
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), ln)))
    exact_groups = set()
    near_pairs = set()
    n = n_base_docs
    for src in rng.choice(n_base_docs, int(dup_frac * n_base_docs), replace=False):
        src = int(src)
        members = [src]
        for _ in range(int(rng.integers(1, 3))):
            texts.append(texts[src])
            members.append(n)
            n += 1
        exact_groups.add(tuple(members))
    dup_sources = {g[0] for g in exact_groups}
    for src in rng.choice(n_base_docs, int(near_frac * n_base_docs), replace=False):
        src = int(src)
        if src in dup_sources:
            continue
        words = texts[src].split(" ")
        for pos in rng.choice(len(words), 2, replace=False):
            new = vocab[int(rng.integers(0, len(vocab)))]
            while new == words[pos]:
                new = vocab[int(rng.integers(0, len(vocab)))]
            words[pos] = new
        texts.append(" ".join(words))
        near_pairs.add((src, n))
        n += 1
    # BM25 queries: three words of three random documents each, so every
    # query ranks several documents
    queries = []
    for q in range(4):
        words = [texts[int(d)].split(" ")[0] for d in rng.integers(0, len(texts), 3)]
        queries.append((f"q{q}", " ".join(words)))
    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode())
        h.update(b"\n")
    docs = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts),
    })
    docs_path = os.path.join(root, "documents.parquet")
    pq.write_table(docs, docs_path, row_group_size=4096)

    base = rng.standard_normal((n_base_vecs, dim)).astype(np.float32)
    src_ix = rng.choice(n_base_vecs, int(near_frac * n_base_vecs), replace=False)
    copies = base[src_ix] + 0.01 * rng.standard_normal((len(src_ix), dim)).astype(np.float32)
    vecs = np.vstack([base, copies])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    h.update(vecs.tobytes())
    emb = pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    emb_path = os.path.join(root, "embeddings.parquet")
    pq.write_table(emb, emb_path, row_group_size=4096)
    return CorpusInputs(
        docs_path, emb_path, len(texts), len(vecs), exact_groups, near_pairs,
        set(range(n_base_vecs, len(vecs))), queries,
        {qid: bm25_scores(texts, qt) for qid, qt in queries}, h.hexdigest(),
    )


def bm25_scores(texts: list[str], query: str, k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    """Okapi BM25 with the Lucene positive idf, over whitespace tokens:
    the score of every document (by index) holding a query term."""
    import math

    docs = [t.lower().split() for t in texts]
    n = sum(1 for d in docs if d)
    avgdl = sum(len(d) for d in docs) / n
    terms = set(query.lower().split())
    df = {t: sum(1 for d in docs if t in d) for t in terms}
    scores: dict[int, float] = {}
    for i, d in enumerate(docs):
        for t in terms:
            tf = d.count(t)
            if tf:
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                w = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(d) / avgdl))
                scores[i] = scores.get(i, 0.0) + w
    return scores
