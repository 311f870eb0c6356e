"""Seeded inputs of the two workloads.

The engine receives only what these functions write into the run
directory: payloads, rules and schedules. Every draw comes from
`random.Random(seed)`, so one seed always gives the same inputs.
"""
import json
import random
from pathlib import Path

import corpus

BENCH = Path(__file__).resolve().parent
SHAPES = sorted((BENCH / "rules").glob("*.json"))

# rule_request
N_SMALL, SMALL_ROWS = 4, 100
N_LARGE, LARGE_ROWS = 1, 50_000
REQ_PER_S = 14  # nominal rate: a window of `seconds` holds round(seconds * 14 / 70) blocks, at least one
SPLIT_SMALL_PER_SHAPE, SPLIT_LARGE_PER_SHAPE = 2, 1

# payload rows, in the engine's frame order (JSON inference sorts fields)
USER_COLUMNS = [("CompanyCode", "str"), ("Id", "str"), ("IsActive", "bool"), ("LoginName", "str"),
                ("NationalIdNumber", "str"), ("RegNo", "str"), ("Title", "str")]
TITLES = ["Manager", "Senior Manager", "Engineer", "Analyst", "Intern", "", None]


def _user(rng, uid):
    """One `User` row (FIXTURES.md A.1): numeric-valued strings, nullable
    Title and IsActive, low-cardinality CompanyCode."""
    nid = "".join(rng.choice("0123456789") for _ in range(11))
    if rng.random() < 0.15:
        nid = nid[:6] + rng.choice("abcxyz") + nid[7:]
    reg = str(rng.randint(0, 5000))
    roll = rng.random()
    if roll < 0.05:
        reg = reg.zfill(6)           # leading zeros: same number, other string
    elif roll < 0.08:
        reg = f"{reg}.50"
    elif roll < 0.10:
        reg = "n/a"                  # not a number: the decimal lift yields null
    active = rng.random() < 0.7
    return {
        "Id": f"u{uid:08d}",
        "LoginName": "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(5, 9))),
        "NationalIdNumber": None if rng.random() < 0.03 else nid,
        "RegNo": reg,
        "Title": rng.choice(TITLES),
        "CompanyCode": f"C{rng.randint(1, 5)}",
        "IsActive": None if rng.random() < 0.03 else active,
    }


def request_inputs(seed, seconds, run_dir: Path):
    """Writes the payloads and `request.json`; returns the spec."""
    rng = random.Random(seed)
    (run_dir / "payloads").mkdir(parents=True)
    meta, uid = [], 0
    for i, (n, large) in enumerate([(SMALL_ROWS, False)] * N_SMALL + [(LARGE_ROWS, True)] * N_LARGE):
        rows = [_user(rng, uid + j) for j in range(n)]
        uid += n
        name = f"payloads/{'l' if large else 's'}{i:02d}.json"
        (run_dir / name).write_text(json.dumps(rows, separators=(",", ":")))
        meta.append({"file": name, "rows": n, "large": large})
    rules = [json.dumps(json.loads(p.read_text()), separators=(",", ":")) for p in SHAPES]
    small = [i for i, m in enumerate(meta) if not m["large"]]
    large = [i for i, m in enumerate(meta) if m["large"]]

    def block():
        """10 requests per rule shape, one of them on the large payload:
        every 10th request is large, so every block, and so every window,
        holds the same mix at the same spacing and no large request waits
        on the luck of the shuffle for its neighbours."""
        small_shapes = [r for r in range(len(rules)) for _ in range(9)]
        rng.shuffle(small_shapes)
        out = []
        for i, r in enumerate(rng.sample(range(len(rules)), len(rules))):
            out.append([rng.choice(large), r])
            out += [[rng.choice(small), s] for s in small_shapes[9 * i:9 * i + 9]]
        return out

    pairs = [[p, r] for p in range(len(meta)) for r in range(len(rules))]
    rng.shuffle(pairs)
    split = [[rng.choice(small), r] for r in range(len(rules)) for _ in range(SPLIT_SMALL_PER_SHAPE)]
    split += [[rng.choice(large), r] for r in range(len(rules)) for _ in range(SPLIT_LARGE_PER_SHAPE)]
    blocks = max(1, round(seconds * REQ_PER_S / (10 * len(rules))))
    spec = {"rules": rules, "shapes": [p.stem for p in SHAPES], "payloads": meta, "pairs": pairs,
            "schedule": [q for _ in range(blocks) for q in block()], "split": split}
    (run_dir / "request.json").write_text(json.dumps(spec))
    return spec


# heavy_rows: battery rows, the short name of their per-layer metrics, the
# metric of their traced wall time, and the end-to-end metric their window
# times give (None: they count in ops_per_s only)
HEAVY_ROWS = [
    {"name": "q_session_stream", "short": "session_stream", "wall": "streaming.session_s", "e2e": "op_p50_ms"},
    {"name": "q_change_feed", "short": "change_feed", "wall": "streaming.change_feed_s", "e2e": "large_op_p50_ms"},
    {"name": "q_sql_tvf", "short": "sql_tvf", "wall": "plans.tvf_s", "e2e": None},
]
HEAVY_PASS_S = 8  # a window of `seconds` runs seconds // 8 whole passes, at least one


def heavy_inputs(seed, seconds, run_dir: Path):
    """Writes the seeded tables the rows read and `heavy.json`."""
    tables = run_dir / "corpus"
    corpus.heavy(seed, tables)
    (run_dir / "heavy.json").write_text(json.dumps({
        "corpus": str(tables), "passes": max(1, int(seconds // HEAVY_PASS_S)), "rows": HEAVY_ROWS}))
    return tables
