"""Answers computed apart from the program, and the checks that compare
the program's outputs with them. Nothing here imports hjsonschema_spark
or pyspark: the transcript oracle is DuckDB SQL over the same parquet
files, the document oracle is the jsonschema package, and the
near-duplicate oracle is exact shingle Jaccard in Python."""

from __future__ import annotations

import json
import math
import re
from collections import Counter

import duckdb

import gen
import suites

_ROLE_LIST = ", ".join(f"'{r}'" for r in gen.ROLES)

# check id -> SQL returning (conv_id, turn_idx) for every violation row.
# Row-scope checks key on the row; group-scope checks key on the
# conversation with turn_idx NULL. The table is the view `t`, the tool
# vocabulary the view `tools`.
CHECK_SQL = {
    "required:conv_id": "SELECT conv_id, turn_idx FROM t WHERE conv_id IS NULL",
    "required:role": "SELECT conv_id, turn_idx FROM t WHERE role IS NULL",
    "required:ts": "SELECT conv_id, turn_idx FROM t WHERE ts IS NULL",
    "enum:role": f"SELECT conv_id, turn_idx FROM t WHERE role NOT IN ({_ROLE_LIST})",
    "pattern:conv_id": f"SELECT conv_id, turn_idx FROM t WHERE NOT regexp_matches(conv_id, '{suites.CONV_PATTERN}')",
    "pattern:text": f"SELECT conv_id, turn_idx FROM t WHERE NOT regexp_matches(text, '{suites.TEXT_PATTERN}')",
    "bounds:turn_idx": "SELECT conv_id, turn_idx FROM t WHERE turn_idx < 0 OR turn_idx > 100000",
    "length:text": f"SELECT conv_id, turn_idx FROM t WHERE length(text) < 1 OR length(text) > {gen.TEXT_MAX_LEN}",
    "not_null_if:tool": (
        "SELECT conv_id, turn_idx FROM t WHERE CASE WHEN role IS NOT DISTINCT FROM 'tool_use' "
        "THEN tool IS NULL ELSE tool IS NOT NULL END"
    ),
    "unique_key:conv_id,turn_idx": (
        "SELECT conv_id, turn_idx FROM t JOIN (SELECT conv_id, turn_idx FROM t "
        "GROUP BY ALL HAVING count(*) > 1) d USING (conv_id, turn_idx)"
    ),
    "contiguous:turn_idx": (
        "SELECT conv_id, NULL::INT FROM t GROUP BY conv_id HAVING min(turn_idx) <> 0 "
        "OR max(turn_idx) - min(turn_idx) + 1 <> count(turn_idx) "
        "OR count(DISTINCT turn_idx) <> count(turn_idx)"
    ),
    "monotonic:ts": (
        "SELECT conv_id, turn_idx FROM (SELECT conv_id, turn_idx, ts, "
        "lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev FROM t) WHERE ts < prev"
    ),
    "sequence_pattern:role by conv_id": (
        "SELECT conv_id, NULL::INT FROM (SELECT conv_id, "
        "string_agg(role, ',' ORDER BY turn_idx, role) AS s FROM t GROUP BY conv_id) "
        f"WHERE length(s) > 0 AND NOT regexp_matches(s, '{suites.SEQUENCE_PATTERN}')"
    ),
    "group_agg_bounds:sum(tokens) by conv_id": (
        "SELECT conv_id, NULL::INT FROM t GROUP BY conv_id "
        f"HAVING sum(tokens) > {gen.TOKENS_MAX_PER_CONV}"
    ),
    "functional_dependency:conv_id->model": (
        "SELECT conv_id, NULL::INT FROM t GROUP BY conv_id HAVING count(DISTINCT model) > 1"
    ),
    "ref_integrity:tool->tools": (
        "SELECT conv_id, turn_idx FROM t WHERE tool IS NOT NULL "
        "AND tool NOT IN (SELECT tool FROM tools)"
    ),
}
DRIFT_CHECK = "chi2_drift:role->role_ref"
DRIFT_ALPHA = 0.001  # ChiSquareDrift's default


def transcript_oracle(files: list[str], tools_path: str, role_ref_path: str) -> dict:
    """{'violations': Counter of (check, conv_id, turn_idx),
    'n_rows': int, 'drift_passed': bool} for the given files."""
    con = duckdb.connect()
    try:
        flist = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{flist}])")
        con.execute(f"CREATE VIEW tools AS SELECT * FROM read_parquet('{tools_path}')")
        viols: Counter = Counter()
        for check, sql in CHECK_SQL.items():
            for conv_id, turn_idx in con.execute(sql).fetchall():
                viols[(check, conv_id, turn_idx)] += 1
        n_rows = con.execute("SELECT count(*) FROM t").fetchone()[0]
        obs = dict(con.execute("SELECT role, count(*) FROM t WHERE role IS NOT NULL GROUP BY role").fetchall())
        ref = dict(con.execute(f"SELECT role, sum(n) FROM read_parquet('{role_ref_path}') GROUP BY role").fetchall())
    finally:
        con.close()
    return {"violations": viols, "n_rows": n_rows,
            "drift_passed": chi2_pvalue(obs, ref) >= DRIFT_ALPHA}


def expected_from_planted(planted: dict) -> Counter:
    """The violation rows the planted defects must produce. The
    generator keeps defect kinds apart, so on its tables this is also
    the whole answer; a duplicate row puts both copies under the unique
    key and breaks its conversation's contiguity."""
    exp: Counter = Counter()
    row_checks = {
        "null_role": "required:role", "bad_role": "enum:role", "bad_text": "pattern:text",
        "long_text": "length:text", "bad_tool": "ref_integrity:tool->tools",
        "stray_tool": "not_null_if:tool", "ts_regress": "monotonic:ts",
    }
    for kind, check in row_checks.items():
        for conv_id, turn_idx in planted[kind]:
            exp[(check, conv_id, turn_idx)] += 1
    for conv_id, turn_idx in planted["dup"]:
        exp[("unique_key:conv_id,turn_idx", conv_id, turn_idx)] += 2
    broken = set(planted["gap"]) | {c for c, _ in planted["dup"]}
    conv_checks = {
        "no_system": "sequence_pattern:role by conv_id",
        "token_blowup": "group_agg_bounds:sum(tokens) by conv_id",
        "model_switch": "functional_dependency:conv_id->model",
    }
    for kind, check in conv_checks.items():
        for conv_id in planted[kind]:
            exp[(check, conv_id, None)] += 1
    for conv_id in broken:
        exp[("contiguous:turn_idx", conv_id, None)] += 1
    return exp


def violation_rows(rows) -> Counter:
    """Counter of (check, conv_id, turn_idx) from engine violation rows
    (any objects indexable by those names)."""
    return Counter((r["check"], r["conv_id"], r["turn_idx"]) for r in rows)


def diff_violations(got: Counter, want: Counter, limit: int = 5) -> list[str]:
    """Problems (empty when equal), per check: rows missing and extra."""
    problems = []
    for name, a, b in (("missing", want, got), ("extra", got, want)):
        d = a - b
        if d:
            by_check = Counter(k[0] for k in d.elements())
            sample = sorted(d, key=str)[:limit]
            problems.append(f"{name} violation rows {dict(by_check)}; e.g. {sample}")
    return problems


def missing_planted(got: Counter, planted: dict) -> list[str]:
    """Planted violation rows the engine did not report."""
    d = expected_from_planted(planted) - got
    return [] if not d else [f"planted rows not found: {dict(Counter(k[0] for k in d.elements()))}"]


def check_verdicts(verdicts, oracle: dict) -> list[str]:
    """Partition verdict n_rows sum to the input rows; each check-scope
    verdict counts that check's violation rows; the drift verdict
    matches the oracle's p-value test."""
    problems = []
    part_rows = sum(v["n_rows"] for v in verdicts if v["scope"] == "partition")
    if part_rows != oracle["n_rows"]:
        problems.append(f"partition verdicts count {part_rows} rows, input has {oracle['n_rows']}")
    per_check = Counter()
    for (check, _, _), n in oracle["violations"].items():
        per_check[check] += n
    for v in verdicts:
        if v["scope"] == "check" and v["n_violations"] != per_check.get(v["check"], 0):
            problems.append(f"verdict {v['check']}: {v['n_violations']} != {per_check.get(v['check'], 0)}")
        if v["scope"] == "table" and v["check"] == DRIFT_CHECK and v["passed"] != oracle["drift_passed"]:
            problems.append(f"drift verdict {v['passed']} != oracle {oracle['drift_passed']}")
    if not any(v["check"] == DRIFT_CHECK for v in verdicts):
        problems.append("no drift verdict")
    return problems


def chi2_pvalue(observed: dict, reference: dict) -> float:
    """Pearson chi-square p-value of observed category counts against a
    reference histogram scaled to the observed total. A category seen
    but absent from the reference makes the statistic infinite."""
    n_obs, n_ref = sum(observed.values()), sum(reference.values())
    if not n_obs or not n_ref:
        return 1.0
    stat = 0.0
    cats = set(observed) | set(reference)
    for c in cats:
        o, e = observed.get(c, 0), reference.get(c, 0) * n_obs / n_ref
        if e > 0:
            stat += (o - e) ** 2 / e
        elif o > 0:
            return 0.0
    return _gammaq(max(1, len(cats) - 1) / 2.0, stat / 2.0)


def _gammaq(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) (series below a+1,
    continued fraction above)."""
    if x <= 0:
        return 1.0
    lg = math.lgamma(a)
    if x < a + 1:
        term = total = 1.0 / a
        ap = a
        for _ in range(1000):
            ap += 1
            term *= x / ap
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        return 1.0 - total * math.exp(-x + a * math.log(x) - lg)
    b, c, d = x + 1 - a, 1e300, 1.0 / (x + 1 - a)
    h = d
    for i in range(1, 1000):
        an = -i * (i - a)
        b += 2
        d = an * d + b
        d = 1e-300 if abs(d) < 1e-300 else d
        c = b + an / c
        c = 1e-300 if abs(c) < 1e-300 else c
        d = 1.0 / d
        h *= d * c
        if abs(d * c - 1) < 1e-15:
            break
    return math.exp(-x + a * math.log(x) - lg) * h


# -- documents --------------------------------------------------------------

def document_validity(docs: list[str], schema: dict) -> list[bool]:
    """jsonschema's Draft 4 verdict per document; unparseable is invalid."""
    import jsonschema

    v = jsonschema.Draft4Validator(schema)
    out = []
    for s in docs:
        try:
            out.append(v.is_valid(json.loads(s)))
        except ValueError:
            out.append(False)
    return out


def diff_validity(got: dict, want: list[bool], limit: int = 5) -> list[str]:
    """``got`` maps doc_id -> engine `_valid`."""
    if len(got) != len(want):
        return [f"{len(got)} verdicts for {len(want)} documents"]
    bad = [i for i, w in enumerate(want) if got.get(i) != w]
    return [] if not bad else [f"{len(bad)} `_valid` differ from jsonschema, e.g. doc_ids {bad[:limit]}"]


# -- near-duplicates --------------------------------------------------------

_TOKEN_SPLIT = re.compile(r"[^a-z0-9']+")


def shingles(text: str, k: int = 3) -> set[str]:
    toks = [t for t in _TOKEN_SPLIT.split(text.lower()) if t]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_near_dups(texts: list[str], pairs: list[tuple[int, int]], clusters: dict,
                    families: list[list[int]], threshold: float, tolerance: float) -> list[str]:
    """Every reported pair has exact Jaccard >= threshold - tolerance;
    every planted family shares one cluster and no two families share
    one. ``clusters`` maps doc_id -> cluster_id."""
    problems = []
    low = [(a, b, round(jaccard(texts[a], texts[b]), 3)) for a, b in pairs
           if jaccard(texts[a], texts[b]) < threshold - tolerance]
    if low:
        problems.append(f"{len(low)} pairs below {threshold} - {tolerance}: {low[:5]}")
    seen = {}
    for fam in families:
        ids = {clusters.get(d) for d in fam}
        if len(ids) != 1 or None in ids:
            problems.append(f"family {fam} split over clusters {ids}")
            continue
        cid = ids.pop()
        if cid in seen:
            problems.append(f"families {seen[cid]} and {fam} share cluster {cid}")
        seen[cid] = fam
    return problems
