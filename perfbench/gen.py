"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed and
parameters give byte-identical parquet. Files are written only under
the directory the caller passes in.

Two inputs:

- transcripts (`conv_id, turn_idx, role, text, tool, ts`), the schema
  the pipeline specs read. `MIX` sets the access/kv/json/free-text line
  families; `HOT_CONVS` and `HOT_SHARE` set the conversation skew (that
  fraction of conversations owns that share of the turns).
- a documents corpus (`doc_id, text`) with exact duplicates,
  near-duplicate clusters and near-duplicate chains, and an embeddings
  table (`vec_id, embedding`) drawn around a few centres with
  near-duplicate copies.

Only the size `n` and the seed are arguments; the shape of each input
is fixed by the constants above its generator.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_W = [0.40, 0.40, 0.05, 0.15]
TOOLS = np.array(["search", "browser", "python", "bash", "calculator"])
VERBS = np.array(["GET", "GET", "GET", "POST", "PUT", "DELETE"])
PATHS = np.array([
    "/index.html", "/api/v1/items", "/api/v1/users", "/static/app.js",
    "/search?q=spark&page=1", "/search?q=logs&page=2", "/login?next=%2Fhome",
    "/healthz",
])
STATUSES = np.array([200, 200, 200, 200, 301, 404, 404, 500, 503])
IPS = np.array([
    "8.8.8.8", "1.2.3.4", "93.184.216.34", "203.0.113.7", "198.51.100.23",
    "10.0.0.5", "192.168.1.10",
])
REFERRERS = np.array(["https://google.com/", "https://example.com/", "-"])
AGENTS = np.array([
    "Mozilla/5.0 (X11; Linux x86_64) Chrome/120.0",
    "Mozilla/5.0 (Macintosh) Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0) Firefox/121.0",
    "curl/8.5.0",
    "python-requests/2.31",
])
KV_LEVELS = np.array(["info", "info", "info", "warn", "error"])
KV_PATHS = np.array(['"/api/v1 items"', '"/api/v2 users"', "/plain/path"])
JSON_LEVELS = np.array(["info", "warn", "error", "error"])
JSON_MSGS = np.array(["tool failed", "retry scheduled", "ok", "rate limited"])
JSON_CODES = np.array([200, 200, 500, 503, 429])
LOREM = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo "
    "lima mike november oscar papa quebec romeo sierra tango".split()
)
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
BASE_EPOCH_S = int(np.datetime64("2024-03-01T00:00:00", "s").astype(np.int64))

MIX = (0.50, 0.20, 0.15, 0.15)  # access, kv, json, free text
HOT_CONVS = 0.01  # this fraction of the conversations ...
HOT_SHARE = 0.30  # ... owns this share of the turns
TURNS_PER_CONV = 25


def _access_lines(rng: np.random.Generator, ts_s: np.ndarray) -> list[str]:
    n = len(ts_s)
    ip, verb, path = rng.choice(IPS, n), rng.choice(VERBS, n), rng.choice(PATHS, n)
    status, nbytes = rng.choice(STATUSES, n), rng.integers(100, 50_000, n)
    ref, agent = rng.choice(REFERRERS, n), rng.choice(AGENTS, n)
    dt = ts_s.astype("datetime64[s]").astype(object)
    return [
        '%s - - [%02d/%s/%04d:%02d:%02d:%02d +0000] "%s %s HTTP/1.1" %d %d "%s" "%s"'
        % (ip[i], d.day, MONTHS[d.month - 1], d.year, d.hour, d.minute, d.second,
           verb[i], path[i], status[i], nbytes[i], ref[i], agent[i])
        for i, d in enumerate(dt)
    ]


def _kv_lines(rng: np.random.Generator, n: int) -> list[str]:
    level, lat = rng.choice(KV_LEVELS, n), rng.integers(1, 2_000, n)
    path, status = rng.choice(KV_PATHS, n), rng.choice(STATUSES, n)
    return [
        "level=%s latency_ms=%d path=%s status=%d" % (level[i], lat[i], path[i], status[i])
        for i in range(n)
    ]


def _json_lines(rng: np.random.Generator, ts_s: np.ndarray) -> list[str]:
    n = len(ts_s)
    level, msg = rng.choice(JSON_LEVELS, n), rng.choice(JSON_MSGS, n)
    code = rng.choice(JSON_CODES, n)
    iso = np.datetime_as_string(ts_s.astype("datetime64[s]"), unit="s")
    return [
        '{"level":"%s","msg":"%s","code":%d,"ts":"%sZ"}' % (level[i], msg[i], code[i], iso[i])
        for i in range(n)
    ]


def _free_lines(rng: np.random.Generator, n: int) -> list[str]:
    counts = rng.integers(3, 9, n)
    words = rng.choice(LOREM, int(counts.sum()))
    ends = np.cumsum(counts)
    return [" ".join(words[e - c:e]) for c, e in zip(counts, ends)]


def transcripts(n: int, seed: int) -> pa.Table:
    """`n` turns over `n // TURNS_PER_CONV` conversations; the first
    `HOT_CONVS` of them own `HOT_SHARE` of the turns."""
    rng = np.random.default_rng(seed)
    n_convs = max(4, n // TURNS_PER_CONV)
    n_hot = max(1, int(n_convs * HOT_CONVS))
    w = np.full(n_convs, (1.0 - HOT_SHARE) / (n_convs - n_hot))
    w[:n_hot] = HOT_SHARE / n_hot
    counts = rng.multinomial(n, w / w.sum())
    conv_ix = np.repeat(np.arange(n_convs), counts)
    turn_idx = np.concatenate([np.arange(c, dtype=np.int32) for c in counts])
    # each conversation starts somewhere in a 7-day window; turns follow
    # 1..60 s apart
    start = rng.integers(0, 7 * 86_400, n_convs)
    gaps = rng.integers(1, 61, n)
    first = np.concatenate([[0], np.cumsum(counts)[:-1]])
    cum = np.cumsum(gaps)
    ts_s = BASE_EPOCH_S + start[conv_ix] + cum - np.repeat(cum[first] - gaps[first], counts)

    role = rng.choice(ROLES, n, p=ROLE_W)
    tool = np.where(role == "tool", rng.choice(TOOLS, n), "none")
    family = rng.choice(4, n, p=np.asarray(MIX) / sum(MIX))
    text = np.empty(n, dtype=object)
    for fam, render in enumerate((
        lambda ix: _access_lines(rng, ts_s[ix]),
        lambda ix: _kv_lines(rng, len(ix)),
        lambda ix: _json_lines(rng, ts_s[ix]),
        lambda ix: _free_lines(rng, len(ix)),
    )):
        ix = np.flatnonzero(family == fam)
        if len(ix):
            text[ix] = render(ix)
    return pa.table({
        "conv_id": pa.array(np.char.mod("conv-%08d", conv_ix), pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts_s.astype("datetime64[s]").astype("datetime64[us]"), pa.timestamp("us")),
    })


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> str:
    """Split `table` into `n_files` parquet files (one scan split each)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, "part-%05d.parquet" % i))
    return out_dir


VOCAB = np.array(["w%03d" % i for i in range(400)])
WORDS = 40  # per document
EXACT_SHARE = 0.10
CLUSTER_SHARE, CLUSTER_SIZE = 0.15, 3
CHAINS, CHAIN_LEN = 4, 4


def documents(n: int, seed: int) -> pa.Table:
    """`doc_id, text`: unique random texts, plus

    - near-duplicate clusters (`CLUSTER_SHARE` of the corpus):
      `CLUSTER_SIZE` texts that each replace 2 of the `WORDS` words of a
      base text (3-shingle Jaccard about 0.7 to the base, 0.5 to each
      other);
    - `CHAINS` near-duplicate chains of `CHAIN_LEN` docs, each rewriting
      the next 6-word window of the one before: neighbours have
      3-shingle Jaccard about 0.65, docs two apart about 0.4, and the
      ends of a 4-chain about 0.3. A chain's ids ascend along it, so
      min-label propagation carries the smallest id down the chain one
      hop per round;
    - exact copies of earlier docs (`EXACT_SHARE` of the corpus).

    Other ids are a random permutation, so duplicates are scattered.
    """
    rng = np.random.default_rng(seed)
    texts: list[list[str]] = []
    n_exact = int(n * EXACT_SHARE)
    n_clusters = int(n * CLUSTER_SHARE) // CLUSTER_SIZE
    n_unique = n - n_exact - n_clusters * CLUSTER_SIZE - CHAINS * CHAIN_LEN
    for _ in range(n_unique):
        texts.append(list(rng.choice(VOCAB, WORDS)))
    for _ in range(n_clusters):
        base = list(rng.choice(VOCAB, WORDS))
        for _ in range(CLUSTER_SIZE):
            v = list(base)
            for p in rng.choice(WORDS, 2, replace=False):
                v[p] = "x%03d" % rng.integers(1000)
            texts.append(v)
    first_chain = len(texts)
    for _ in range(CHAINS):
        cur = list(rng.choice(VOCAB, WORDS))
        texts.append(cur)
        for step in range(CHAIN_LEN - 1):
            cur = list(cur)
            lo = (step * 6) % (WORDS - 6)
            cur[lo:lo + 6] = ["y%03d" % w for w in rng.integers(1000, size=6)]
            texts.append(cur)
    for src in rng.integers(0, len(texts), n_exact):
        texts.append(list(texts[src]))
    ids = rng.permutation(len(texts))
    for c in range(CHAINS):
        lo = first_chain + c * CHAIN_LEN
        ids[lo:lo + CHAIN_LEN] = np.sort(ids[lo:lo + CHAIN_LEN])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([" ".join(t) for t in texts], pa.string()),
    }).sort_by("doc_id")


DIM, CENTRES, SPREAD = 32, 8, 0.6
DUP_SHARE, DUP_NOISE = 0.15, 0.002


def embeddings(n: int, seed: int) -> pa.Table:
    """`vec_id, embedding` around `CENTRES` random unit directions with
    per-coordinate noise `SPREAD`; `DUP_SHARE` of the rows are copies of
    another row plus `DUP_NOISE` noise (cosine > 0.999 to it)."""
    rng = np.random.default_rng(seed)
    c = rng.normal(size=(CENTRES, DIM))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    n_dup = int(n * DUP_SHARE)
    centre = c[rng.integers(0, CENTRES, n - n_dup)]
    base = centre + rng.normal(scale=SPREAD / np.sqrt(DIM), size=(n - n_dup, DIM))
    src = rng.integers(0, n - n_dup, n_dup)
    dups = base[src] + rng.normal(scale=DUP_NOISE, size=(n_dup, DIM))
    vecs = np.vstack([base, dups]).astype(np.float32)
    ids = rng.permutation(n).astype(np.int64)
    order = np.argsort(ids)
    return pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
    })
