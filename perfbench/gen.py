"""Seeded input generators for the benchmark (numpy + pyarrow, no Spark).

Every generator is a pure function of its arguments: the same seed gives
byte-identical tables. Each one also returns what it planted, so the
correctness checks can require that every planted defect is found.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ["system", "user", "assistant", "tool_use", "tool_result"]
TOOLS = [f"tool_{i:02d}" for i in range(32)]
MODELS = ["m-small", "m-base", "m-large", "m-xl"]
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu query answer check result table schema value tokens spark"
).split()
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds

# Row-check bounds shared by the suite (suites.py) and the generator.
TEXT_MAX_LEN = 1000
TOKENS_MAX_PER_CONV = 200_000

# Row-scope defect kinds: each marks a disjoint set of rows.
ROW_KINDS = ("null_role", "bad_role", "bad_text", "long_text", "bad_tool",
             "stray_tool", "dup", "gap", "ts_regress")
# Conversation-scope defect kinds: each marks a disjoint set of conversations.
CONV_KINDS = ("no_system", "token_blowup", "model_switch")


@dataclass
class Transcripts:
    """A generated transcript table split into conversation-aligned files."""

    files: list[str]
    n_rows: int
    n_convs: int
    # kind -> sorted list of (conv_id, turn_idx) row keys or conv_id strings
    planted: dict[str, list] = field(default_factory=dict)


def _text_pool(rng: np.random.Generator, n: int = 2048) -> list[str]:
    pool = []
    prefixes = ["Thought: ", "Action: ", "Observation: "]
    for i in range(n):
        k = int(rng.integers(3, 40))
        body = " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k))
        pool.append((prefixes[i % 3] if i % 10 == 0 else "") + body)
    return pool


def _disjoint_marks(rng: np.random.Generator, n: int, kinds: tuple, rate: float,
                    eligible: dict) -> dict:
    """One uniform draw per item; kind i owns [i*rate, (i+1)*rate), so
    kinds never share an item. ``eligible`` restricts a kind further."""
    u = rng.random(n)
    out = {}
    for i, k in enumerate(kinds):
        m = (u >= i * rate) & (u < (i + 1) * rate)
        if k in eligible:
            m &= eligible[k]
        out[k] = m
    return out


def transcripts(out_dir: str, n_rows: int, seed: int, rate: float, n_files: int) -> Transcripts:
    """About ``n_rows`` turns in ``n_files`` parquet files; every file
    holds whole conversations. Columns: conv_id, turn_idx, role, text,
    tool, ts (UTC timestamp), model, tokens. ``rate`` is the share of
    rows (row kinds) or conversations (conversation kinds) each defect
    kind marks."""
    rng = np.random.default_rng(seed)
    pool = _text_pool(rng)
    n_convs = max(n_files, n_rows // 22)
    lens = rng.integers(4, 41, n_convs)  # mean 22 turns
    conv = np.repeat(np.arange(n_convs), lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    turn = np.arange(conv.size) - np.repeat(starts, lens)
    last = turn == np.repeat(lens - 1, lens)
    n = conv.size

    # roles: system, then user on odd turns, assistant/tool_use on even
    # turns, and tool_result on the user slot right after a tool_use
    tool_use = (turn % 2 == 0) & (turn > 0) & (rng.random(n) < 0.15)
    role = np.where(turn % 2 == 1, 1, np.where(tool_use, 3, 2))
    after_tool = np.zeros(n, bool)
    after_tool[1:] = tool_use[:-1] & (conv[1:] == conv[:-1])
    role = np.where(after_tool, 4, role)
    role[turn == 0] = 0
    role_s = np.array(ROLES, dtype=object)[role]
    text_i = rng.integers(0, len(pool), n)
    text = np.array(pool, dtype=object)[text_i]
    tool = np.where(role == 3, np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)], None)
    conv_off = rng.integers(0, 86400 * 30, n_convs)
    ts = BASE_TS_US + (np.repeat(conv_off, lens) + turn * 60 + rng.integers(0, 60, n)) * 1_000_000
    model = np.array(MODELS, dtype=object)[rng.integers(0, len(MODELS), n_convs)]
    model_r = model[conv].copy()
    tokens = rng.integers(1, 2000, n)

    rk = _disjoint_marks(
        rng, n, ROW_KINDS, rate,
        {
            # role defects stay off turn 0 and off tool_use rows, so each
            # one fails exactly one row check
            "null_role": (turn > 0) & (role != 3),
            "bad_role": (turn > 0) & (role != 3),
            "bad_tool": role == 3,
            "stray_tool": (role == 1) | (role == 2),
            "gap": (turn > 0) & ~last,
            # a regressed row whose predecessor is also regressed would
            # not step back; keep regressions apart
            "ts_regress": turn > 1,
        },
    )
    prev_reg = np.zeros(n, bool)
    prev_reg[1:] = rk["ts_regress"][:-1]
    rk["ts_regress"] &= ~prev_reg
    ck = _disjoint_marks(rng, n_convs, CONV_KINDS, rate, {})

    role_s[rk["null_role"]] = None
    role_s[rk["bad_role"]] = "robot"
    text[rk["bad_text"]] = "ZZ upper-case start breaks the text pattern"
    text[rk["long_text"]] = "x" * (TEXT_MAX_LEN + 200)
    tool[rk["bad_tool"]] = "not_a_tool"
    tool[rk["stray_tool"]] = TOOLS[0]
    ts[rk["ts_regress"]] -= 48 * 3600 * 1_000_000
    first_row = starts
    role_s[first_row[ck["no_system"]]] = "user"
    tokens[first_row[ck["token_blowup"]]] = TOKENS_MAX_PER_CONV + 1
    sw = first_row[ck["model_switch"]]
    model_r[sw] = np.where(model_r[sw] == MODELS[0], MODELS[1], MODELS[0])

    conv_ids = np.array([f"c{i:08d}" for i in range(n_convs)], dtype=object)
    keep = ~rk["gap"]
    order = np.arange(n)[keep]
    # a duplicate is an exact copy placed right after its original
    order = np.sort(np.concatenate([order, np.flatnonzero(rk["dup"] & keep)]), kind="stable")
    table = pa.table(
        {
            "conv_id": pa.array(conv_ids[conv[order]], pa.string()),
            "turn_idx": pa.array(turn[order], pa.int32()),
            "role": pa.array(role_s[order], pa.string()),
            "text": pa.array(text[order], pa.string()),
            "tool": pa.array(tool[order], pa.string()),
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
            "model": pa.array(model_r[order], pa.string()),
            "tokens": pa.array(tokens[order], pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    # conversation-aligned split: each file holds a contiguous block of
    # whole conversations
    conv_of_row = conv[order]
    bounds = np.searchsorted(conv_of_row, np.linspace(0, n_convs, n_files + 1).astype(int))
    files = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]), path, row_group_size=1 << 20)
        files.append(path)

    def row_keys(m):
        idx = np.flatnonzero(m)
        return sorted(zip(conv_ids[conv[idx]].tolist(), turn[idx].tolist()))

    planted = {k: row_keys(rk[k]) for k in ROW_KINDS}
    planted["gap"] = sorted({c for c, _ in planted["gap"]})
    for k in CONV_KINDS:
        planted[k] = conv_ids[ck[k]].tolist()
    return Transcripts(files=files, n_rows=table.num_rows, n_convs=n_convs, planted=planted)


def write_tools_vocab(path: str) -> str:
    pq.write_table(pa.table({"tool": pa.array(TOOLS, pa.string())}), path)
    return path


def role_reference(path: str, n_rows: int) -> str:
    """Reference role histogram (column role, n): the generator's clean
    shares. Planted 'robot' roles are absent from it, so the drift check
    fails whenever any are present."""
    shares = {"system": 1 / 22, "user": 0.5, "assistant": 0.36, "tool_use": 0.07, "tool_result": 0.07}
    pq.write_table(
        pa.table(
            {
                "role": pa.array(list(shares), pa.string()),
                "n": pa.array([int(s * n_rows) for s in shares.values()], pa.int64()),
            }
        ),
        path,
    )
    return path


# -- JSON tool-call documents -------------------------------------------

SCHEMA_COLUMNAR = {
    "type": "object",
    "required": ["tool", "call_id", "tokens"],
    "properties": {
        "tool": {"type": "string", "enum": TOOLS},
        "call_id": {"type": "string", "pattern": "^k[0-9]+$"},
        "tokens": {"type": "integer", "minimum": 1, "maximum": 100000},
        "score": {"type": "number", "minimum": 0, "maximum": 1},
    },
}

# Outside the columnar subset (a nested object with its own properties),
# so validate_json_column_auto routes it to the exact mapInPandas path.
SCHEMA_EXACT = {
    "type": "object",
    "required": ["tool", "call_id", "args"],
    "properties": {
        "tool": {"type": "string", "enum": TOOLS},
        "call_id": {"type": "string", "pattern": "^k[0-9]+$"},
        "args": {
            "type": "object",
            "required": ["query"],
            "properties": {
                "query": {"type": "string", "minLength": 1},
                "limit": {"type": "integer", "minimum": 1, "maximum": 50},
            },
        },
        "tags": {"type": "array", "items": {"type": "string"}, "maxItems": 4},
    },
}

# Defects in about 2% of documents, one per defective document.
_DOC_DEFECTS = (
    "tokens_as_string", "missing_call_id", "tokens_out_of_range", "unknown_tool",
    "bad_call_id", "limit_too_big", "empty_query", "too_many_tags", "score_above_one",
    "malformed",
)


def json_documents(n_docs: int, seed: int, invalid_rate: float = 0.02) -> tuple[list[str], dict]:
    """Tool-call documents as JSON strings. Numbers are ints or floats
    with a fractional part: integer-valued floats (1.0) are left out,
    because hjsonschema counts them as integers (Any.hs:338-341) and
    jsonschema's Draft 4 does not."""
    rng = np.random.default_rng(seed)
    words = _WORDS
    bad = rng.random(n_docs) < invalid_rate
    kind = rng.integers(0, len(_DOC_DEFECTS), n_docs)
    docs = []
    planted: dict[str, int] = {k: 0 for k in _DOC_DEFECTS}
    tool_i = rng.integers(0, len(TOOLS), n_docs)
    tok = rng.integers(1, 100000, n_docs)
    lim = rng.integers(1, 51, n_docs)
    score = (rng.integers(0, 1000, n_docs) * 2 + 1) / 2048.0  # never integral
    qlen = rng.integers(1, 6, n_docs)
    ntag = rng.integers(0, 5, n_docs)
    for i in range(n_docs):
        d = {
            "tool": TOOLS[tool_i[i]],
            "call_id": f"k{i}",
            "tokens": int(tok[i]),
            "score": float(score[i]),
            "args": {"query": " ".join(words[(i + j) % len(words)] for j in range(qlen[i])),
                     "limit": int(lim[i])},
            "tags": [words[(i * 7 + j) % len(words)] for j in range(ntag[i])],
        }
        if bad[i]:
            k = _DOC_DEFECTS[kind[i]]
            planted[k] += 1
            if k == "tokens_as_string":
                d["tokens"] = str(d["tokens"])
            elif k == "missing_call_id":
                del d["call_id"]
            elif k == "tokens_out_of_range":
                d["tokens"] = 100001 + int(tok[i])
            elif k == "unknown_tool":
                d["tool"] = "tool_xx"
            elif k == "bad_call_id":
                d["call_id"] = f"K-{i}"
            elif k == "limit_too_big":
                d["args"]["limit"] = 51 + int(lim[i])
            elif k == "empty_query":
                d["args"]["query"] = ""
            elif k == "too_many_tags":
                d["tags"] = words[:6]
            elif k == "score_above_one":
                d["score"] = 1.5 + float(score[i])
            elif k == "malformed":
                docs.append(json.dumps(d)[:-2])
                continue
        docs.append(json.dumps(d))
    return docs, planted


def write_documents(out_dir: str, docs: list[str], n_files: int) -> str:
    """(doc_id, doc) in ``n_files`` parquet files of consecutive ids."""
    table = pa.table({"doc_id": pa.array(np.arange(len(docs)), pa.int64()), "doc": pa.array(docs, pa.string())})
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(docs), n_files + 1).astype(int)
    for f in range(n_files):
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(out_dir, f"part-{f:04d}.parquet"))
    return out_dir


# -- near-duplicate text --------------------------------------------------

def near_dup_corpus(n_docs: int, seed: int, n_families: int, family_size: int = 4,
                    doc_words: int = 80) -> tuple[list[str], list[list[int]]]:
    """Random documents over a 4096-word vocabulary plus ``n_families``
    planted families: a base document and ``family_size - 1`` copies
    with one word substituted each (3-shingle Jaccard about 0.93 to the
    base). Returns (texts indexed by doc_id, families as doc_id lists)."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i:04x}" for i in range(4096)]
    ids = rng.integers(0, len(vocab), (n_docs, doc_words))
    fam_ids = rng.permutation(n_docs)[: n_families * family_size].reshape(n_families, family_size)
    for fam in fam_ids:
        base = ids[fam[0]]
        for m in fam[1:]:
            ids[m] = base
            pos = int(rng.integers(0, doc_words))
            ids[m, pos] = (base[pos] + 1 + int(rng.integers(0, len(vocab) - 1))) % len(vocab)
    texts = [" ".join(vocab[j] for j in row) for row in ids]
    families = [sorted(int(x) for x in fam) for fam in fam_ids]
    return texts, families
