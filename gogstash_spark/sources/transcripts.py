"""Deterministic synthetic transcripts generator.

The engine's analog of the reference's `lorem` synthetic input
(reference input/lorem/inputlorem.go:132-188: N workers emitting
templated messages) crossed with the BASELINE.json input_hint schema:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Text is rendered from a fixed template set (FIXTURES.md §2) so the
downstream grok / kv / json parse yields are known a priori:

    ~50%  access-log lines   (grok COMMONAPACHELOG target)
    ~20%  kv lines           (kv filter target, quoted values)
    ~15%  json lines         (json filter target)
    ~15%  free text          (no-match -> grok error tag -> deadletter)

conv_id popularity is skewed (~1% of convs own ~30% of turns) to
exercise hot keys. Everything is seeded (seed=42) and written
as a multi-file parquet directory so local Spark gets >=8 input splits
(one file ≙ one scan task in local mode).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
TURNS_PER_SF = 5_000_000  # sf0.001 -> 5k, sf0.01 -> 50k, sf0.1 -> 500k

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_W = np.array([0.40, 0.40, 0.05, 0.15])
TOOLS = np.array(["search", "browser", "python", "bash", "calculator"])

VERBS = np.array(["GET", "GET", "GET", "POST", "PUT", "DELETE"])
PATHS = np.array(
    [
        "/index.html",
        "/api/v1/items",
        "/api/v1/users",
        "/static/app.js",
        "/search?q=spark&page=1",
        "/search?q=logs&page=2",
        "/login?next=%2Fhome",
        "/healthz",
    ]
)
STATUSES = np.array([200, 200, 200, 200, 301, 404, 404, 500, 503])
IPS = np.array(
    [
        "8.8.8.8",
        "1.2.3.4",
        "93.184.216.34",
        "203.0.113.7",
        "198.51.100.23",
        "10.0.0.5",       # private: exercises the geoip CIDR-skip path
        "192.168.1.10",   # private
    ]
)
REFERRERS = np.array(["https://google.com/", "https://example.com/", "-"])
AGENTS = np.array(
    [
        "Mozilla/5.0 (X11; Linux x86_64) Chrome/120.0",
        "Mozilla/5.0 (Macintosh) Safari/605.1.15",
        "Mozilla/5.0 (Windows NT 10.0) Firefox/121.0",
        "curl/8.5.0",
        "python-requests/2.31",
    ]
)
KV_LEVELS = np.array(["info", "info", "info", "warn", "error"])
KV_PATHS = np.array(['"/api/v1 items"', '"/api/v2 users"', "/plain/path"])
JSON_LEVELS = np.array(["info", "warn", "error", "error"])
JSON_MSGS = np.array(["tool failed", "retry scheduled", "ok", "rate limited"])
LOREM = np.array(
    (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()
)

MONTHS = np.array(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
)

BASE_EPOCH = np.datetime64("2024-03-01T00:00:00", "us")


def _render_access(rng: np.random.Generator, n: int, ts_us: np.ndarray) -> list[str]:
    ip = rng.choice(IPS, n)
    verb = rng.choice(VERBS, n)
    path = rng.choice(PATHS, n)
    status = rng.choice(STATUSES, n)
    nbytes = rng.integers(100, 50_000, n)
    ref = rng.choice(REFERRERS, n)
    agent = rng.choice(AGENTS, n)
    # dd/Mon/yyyy:HH:mm:ss +0000 rendered from the turn timestamp
    dt = ts_us.astype("datetime64[s]").astype(object)
    out = []
    for i in range(n):
        d = dt[i]
        stamp = "%02d/%s/%04d:%02d:%02d:%02d +0000" % (
            d.day, MONTHS[d.month - 1], d.year, d.hour, d.minute, d.second,
        )
        out.append(
            '%s - - [%s] "%s %s HTTP/1.1" %d %d "%s" "%s"'
            % (ip[i], stamp, verb[i], path[i], status[i], nbytes[i], ref[i], agent[i])
        )
    return out


def _render_kv(rng: np.random.Generator, n: int) -> list[str]:
    level = rng.choice(KV_LEVELS, n)
    lat = rng.integers(1, 2_000, n)
    path = rng.choice(KV_PATHS, n)
    status = rng.choice(STATUSES, n)
    return [
        "level=%s latency_ms=%d path=%s status=%d" % (level[i], lat[i], path[i], status[i])
        for i in range(n)
    ]


def _render_json(rng: np.random.Generator, n: int, ts_us: np.ndarray) -> list[str]:
    level = rng.choice(JSON_LEVELS, n)
    msg = rng.choice(JSON_MSGS, n)
    code = rng.choice(np.array([200, 200, 500, 503, 429]), n)
    iso = np.datetime_as_string(ts_us.astype("datetime64[s]"), unit="s")
    return [
        '{"level":"%s","msg":"%s","code":%d,"ts":"%sZ"}' % (level[i], msg[i], code[i], iso[i])
        for i in range(n)
    ]


def _render_free(rng: np.random.Generator, n: int) -> list[str]:
    counts = rng.integers(3, 9, n)
    words = rng.choice(LOREM, counts.sum())
    out, pos = [], 0
    for c in counts:
        out.append(" ".join(words[pos : pos + c]))
        pos += c
    return out


def generate_transcripts(n_turns: int, seed: int = SEED) -> pa.Table:
    """Build the transcripts table fully in memory (vectorized numpy)."""
    rng = np.random.default_rng(seed)

    n_convs = max(4, n_turns // 25)
    n_hot = max(1, n_convs // 100)
    # ~1% of convs own ~30% of turns
    w = np.full(n_convs, 0.70 / max(n_convs - n_hot, 1))
    w[:n_hot] = 0.30 / n_hot
    w /= w.sum()
    counts = rng.multinomial(n_turns, w)

    conv_ids_unique = np.array(["conv-%08d" % i for i in range(n_convs)])
    conv_id = np.repeat(conv_ids_unique, counts)
    turn_idx = np.concatenate([np.arange(c, dtype=np.int32) for c in counts])

    # per-conv start time in a 7-day window + exponential-ish gaps per turn
    starts = rng.integers(0, 7 * 86_400, n_convs).astype(np.int64) * 1_000_000
    gaps = (rng.exponential(30.0, n_turns) * 1_000_000).astype(np.int64) + 1
    conv_ix = np.repeat(np.arange(n_convs), counts)
    # within-conv cumulative gap = global cumsum rebased at each conv start
    cum = np.cumsum(gaps)
    offsets = np.minimum(
        np.concatenate([[0], np.cumsum(counts)[:-1]]), max(n_turns - 1, 0)
    )
    base_at_conv_start = np.repeat(cum[offsets] - gaps[offsets], counts)
    ts_us = BASE_EPOCH.astype(np.int64) + starts[conv_ix] + (cum - base_at_conv_start)

    role = rng.choice(ROLES, n_turns, p=ROLE_W)
    tool = np.where(role == "tool", rng.choice(TOOLS, n_turns), "none")

    fam = rng.choice(np.array([0, 1, 2, 3]), n_turns, p=[0.50, 0.20, 0.15, 0.15])
    text = np.empty(n_turns, dtype=object)
    ts_arr = ts_us.astype("datetime64[us]")
    for f, render in (
        (0, lambda m, idx: _render_access(rng, m, ts_arr[idx])),
        (1, lambda m, idx: _render_kv(rng, m)),
        (2, lambda m, idx: _render_json(rng, m, ts_arr[idx])),
        (3, lambda m, idx: _render_free(rng, m)),
    ):
        idx = np.where(fam == f)[0]
        if len(idx):
            text[idx] = render(len(idx), idx)

    return pa.table(
        {
            "conv_id": pa.array(conv_id, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_arr, pa.timestamp("us")),
        }
    )


ROLE_LOOKUP = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "infra", 0),
    ("tool", "infra", 3),
    ("ghost", "unknown", 9),  # unmatched probe: never appears in transcripts
]
# 'calculator' intentionally absent -> exercises left-join miss / error tag
TOOL_LOOKUP = [
    ("search", "retrieval", "low"),
    ("browser", "retrieval", "medium"),
    ("python", "execution", "high"),
    ("bash", "execution", "high"),
    ("none", "none", "low"),
]


# geoip-shaped lookup for the public IPs in the pool; 203.0.113.7 and
# 198.51.100.23 intentionally absent -> public-miss error-tag path
GEO_LOOKUP = [
    ("8.8.8.8", "US", "Mountain View", 37.386, -122.0838),
    ("1.2.3.4", "AU", "Brisbane", -27.4679, 153.0281),
    ("93.184.216.34", "US", "Norwell", 42.1508, -70.8228),
]


def write_lookups(out_dir: str) -> None:
    pq.write_table(
        pa.table(
            {
                "ip": pa.array([g[0] for g in GEO_LOOKUP]),
                "country_code": pa.array([g[1] for g in GEO_LOOKUP]),
                "city_name": pa.array([g[2] for g in GEO_LOOKUP]),
                "latitude": pa.array([g[3] for g in GEO_LOOKUP], pa.float64()),
                "longitude": pa.array([g[4] for g in GEO_LOOKUP], pa.float64()),
            }
        ),
        os.path.join(out_dir, "geo_lookup.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "role": pa.array([r[0] for r in ROLE_LOOKUP]),
                "role_class": pa.array([r[1] for r in ROLE_LOOKUP]),
                "priority": pa.array([r[2] for r in ROLE_LOOKUP], pa.int32()),
            }
        ),
        os.path.join(out_dir, "role_lookup.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "tool": pa.array([t[0] for t in TOOL_LOOKUP]),
                "tool_family": pa.array([t[1] for t in TOOL_LOOKUP]),
                "risk_level": pa.array([t[2] for t in TOOL_LOOKUP]),
            }
        ),
        os.path.join(out_dir, "tool_lookup.parquet"),
    )
    # key:value line file, the reference lookuptable format
    # (reference filter/lookuptable/lookup.go:106-142)
    with open(os.path.join(out_dir, "tool_family.txt"), "w") as f:
        for t, fam, _ in TOOL_LOOKUP:
            f.write("%s:%s\n" % (t, fam))


def sf_of_dir(sf_dir: str) -> float:
    """'/root/testdata/sf0.01' -> 0.01"""
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base.replace("sf", ""))


def data_dir_for(sf_dir: str, root: str | None = None) -> str:
    root = root or os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "data")
    return os.path.join(root, os.path.basename(sf_dir.rstrip("/")))


def ensure_transcripts(sf_dir: str, root: str | None = None) -> str:
    """Idempotently generate transcripts + lookups for the given sf dir.

    Returns the directory containing transcripts/ (parquet dir),
    role_lookup.parquet, tool_lookup.parquet, tool_family.txt.
    """
    out = data_dir_for(sf_dir, root)
    tdir = os.path.join(out, "transcripts")
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        # lookups added in later versions regenerate idempotently
        if not os.path.exists(os.path.join(out, "geo_lookup.parquet")):
            write_lookups(out)
        return out
    os.makedirs(tdir, exist_ok=True)
    sf = sf_of_dir(sf_dir)
    n = max(1000, int(TURNS_PER_SF * sf))
    table = generate_transcripts(n)
    n_files = 32 if n >= 200_000 else 8
    rows_per = -(-table.num_rows // n_files)
    for i in range(n_files):
        chunk = table.slice(i * rows_per, rows_per)
        if chunk.num_rows == 0:
            break
        pq.write_table(chunk, os.path.join(tdir, "part-%05d.parquet" % i))
    write_lookups(out)
    with open(done, "w") as f:
        f.write("ok\n")
    return out
