"""Gate-contract linter (GATE_CONTRACT.md, rules 1 and 5).

Static checks over every ``queries()`` / ``oracle_sql()`` pair that the
driver's canonicalizer can hash the output at all:

- rule 1: every output column is scalar (no array/map/struct) — checked
  from the Spark schema at sf0.001 (lazy where the query allows it);
- rule 5a: the matching DuckDB oracle parses and its column NAMES equal
  the Spark columns (the driver sorts columns by name before hashing,
  so a name mismatch is an automatic hash fail);
- rule 5b: no oracle output column is a DuckDB LIST/STRUCT/MAP either.

With ``--negzero``, additionally EXECUTES every query and oracle and
scans all float cells for IEEE -0.0 (rule 7): Spark's round() goes
through BigDecimal and emits +0.0 where DuckDB's round() preserves the
sign, and the driver's fixed-precision canonicalizer renders them as
"-0.000000" != "0.000000" — the r06 anomaly_mad / mix_decomposition
hash reds. Any -0.0 in EITHER engine's output is a violation: the fix
is `round(...) + 0.0` at the producing site in both engines.

With ``--rotation``, instead runs the rotation-debt audit (no Spark
session): every registry entry must have at least one driver row in some
``CORRECTNESS_r*.json``, and any entry whose newest driver row is >= 3
rounds older than the latest recorded round must be scheduled in the
current ``DRIVER_GATE_PRIORITY`` — so stale driver evidence can never
silently re-accumulate the way the 17 r04-last entries did through r07.

Usage: python tools/gate_lint.py [sf_dir] [--negzero|--rotation] [query ...]
Exit 1 on any violation. tools/local_verify.py remains the value-level
check; this is the cheap shape-level pre-flight.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

FLAGS = {"--negzero", "--rotation", "--propose"}
ARGS = [a for a in sys.argv[1:] if a not in FLAGS]
NEGZERO = "--negzero" in sys.argv[1:]
ROTATION = "--rotation" in sys.argv[1:]
PROPOSE = "--propose" in sys.argv[1:]
SF_DIR = ARGS[0] if ARGS else "/root/testdata/sf0.001"
ONLY = set(ARGS[1:])

GATE_SLOTS = 50

# An entry this many rounds (or more) behind the newest CORRECTNESS file
# must be in the CURRENT gate rotation or the lint fails. 4 is the
# tightest sustainable bound: 163 registry entries over 50 driver slots
# means an oldest-first rotation re-verifies every entry exactly every
# ceil(163/50) = 4 rounds, so the moment a round's CORRECTNESS file
# lands, the stalest UNSCHEDULED entry is 3 rounds old. A budget of 3
# (the pre-r09 value) was unsatisfiable in steady state — each round 50
# entries age into violation while only 50 slots exist, leaving a
# permanent 13-entry deficit — so it flagged the *schedule's* arithmetic,
# not neglect. Budget 4 goes red exactly when a round fails to rotate.
STALENESS_BUDGET = 4


def driver_history(
    repo: Path, upto_round: int | None = None
) -> tuple[dict[str, int], int]:
    """Newest driver-verified round per entry, and the newest round seen,
    ignoring CORRECTNESS files of rounds >= upto_round."""
    import json

    latest: dict[str, int] = {}
    newest_round = 0
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        rnd = int(f.stem.split("_r")[1])
        if upto_round is not None and rnd >= upto_round:
            continue
        newest_round = max(newest_round, rnd)
        for name in json.loads(f.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest, newest_round


def compute_rotation(
    names: list[str],
    upto_round: int | None = None,
    head: tuple[str, ...] | list[str] = (),
    repo: Path = REPO,
) -> list[str]:
    """Deterministic gate: ``head`` entries first (in the given order —
    the round's TOUCHED list, per the r09 VERDICT: entries whose
    execution path the optimizer changed must be driver-verified before
    staleness refresh), then rank the rest by newest driver-verified
    round (ignoring CORRECTNESS files >= upto_round, so a committed gate
    stays reproducible after later rounds land), ties by registry order,
    and take the first GATE_SLOTS entries.

    Raises ValueError when the head leaves too few slots for the entries
    that are STALENESS_BUDGET - 1 or more rounds stale: each of those
    would fail `--rotation` once this round's CORRECTNESS file lands."""
    latest, newest_round = driver_history(repo, upto_round)
    # the gate is for the round after the newest one counted
    current = newest_round if upto_round is None else upto_round - 1
    order = {n: i for i, n in enumerate(names)}
    lead = [n for n in head if n in order]
    taken = set(lead)
    due = [
        n for n in names
        if n not in taken and current - latest.get(n, 0) >= STALENESS_BUDGET - 1
    ]
    if len(lead) + len(due) > GATE_SLOTS:
        raise ValueError(
            f"gate for r{current + 1:02d} overflows: {len(lead)} head entries "
            f"+ {len(due)} entries >= {STALENESS_BUDGET - 1} rounds stale "
            f"> {GATE_SLOTS} slots; shorten GATE_PRIORITY_HEAD"
        )
    ranked = sorted(
        (n for n in names if n not in taken),
        key=lambda n: (latest.get(n, 0), order[n]),
    )
    return (lead + ranked)[:GATE_SLOTS]


def rotation_audit() -> int:
    import __spark_entry__ as e

    latest, newest_round = driver_history(REPO)
    names = list(e.queries())
    scheduled = set(e.DRIVER_GATE_PRIORITY)
    problems: list[str] = []
    for n in names:
        if n not in latest:
            if n not in scheduled:
                problems.append(f"{n}: NO driver row in any CORRECTNESS_r*.json and not in the current rotation")
            continue
        age = newest_round - latest[n]
        if age >= STALENESS_BUDGET and n not in scheduled:
            problems.append(
                f"{n}: last driver-verified r{latest[n]:02d} "
                f"({age} rounds stale) and not in DRIVER_GATE_PRIORITY"
            )
    for p in problems:
        print(f"ROTATION  {p}")
    print(
        f"\nrotation audit: {len(names)} entries, newest round r{newest_round:02d}, "
        f"{len(problems)} violation(s)"
    )
    return 1 if problems else 0

from tools.local_verify import make_duck_views  # noqa: E402 — shared table bootstrap

NON_SCALAR_SPARK = {"array", "map", "struct"}


def count_negzero(rows) -> dict[int, int]:
    """Per-column count of IEEE -0.0 float cells across all rows."""
    hits: dict[int, int] = {}
    for r in rows:
        for i, v in enumerate(r):
            if (
                isinstance(v, float)
                and v == 0.0
                and math.copysign(1.0, v) < 0
            ):
                hits[i] = hits.get(i, 0) + 1
    return hits


def sweep_spark_negzero(name: str, sdf, problems: list[str]) -> None:
    """Collect the Spark result and record any -0.0 cells (rule 7)."""
    srows = [tuple(r) for r in sdf.collect()]
    for i, n in count_negzero(srows).items():
        problems.append(
            f"{name}: spark column {sdf.columns[i]} emits "
            f"{n} -0.0 cell(s) — rule 7 (add `+ 0.0`)"
        )


def propose_rotation(repo: Path = REPO) -> int:
    """Print the next round's DRIVER_GATE_PRIORITY (current
    GATE_PRIORITY_HEAD first, then oldest-first). Refuses with exit 1
    while every head entry already has a driver row in the newest round:
    such a head is the last round's touched list, already verified, and
    must be replaced by this round's before the gate is built."""
    import __spark_entry__ as e

    latest, newest_round = driver_history(repo)
    names = list(e.queries())
    head = getattr(e, "GATE_PRIORITY_HEAD", ())
    if head and all(latest.get(n) == newest_round for n in head):
        print(
            f"--propose: all {len(head)} GATE_PRIORITY_HEAD entries were "
            f"driver-verified in r{newest_round:02d}, the newest round, so the "
            "head is last round's touched list; set it to the entries this "
            "round changed, then re-run",
            file=sys.stderr,
        )
        return 1
    gate = compute_rotation(names, upto_round=newest_round + 1, head=head, repo=repo)
    print(f"# GATE_ROTATION_ROUND = {newest_round + 1}")
    print("DRIVER_GATE_PRIORITY = [")
    for n in gate:
        print(f'    "{n}",  # last driver-verified r{latest.get(n, 0):02d}')
    print("]")
    return 0


def main() -> int:
    if PROPOSE:
        return propose_rotation()
    if ROTATION:
        return rotation_audit()
    import __spark_entry__ as e
    from propensity_spark.session import get_spark

    spark = get_spark(
        "gate_lint", extra_conf={"spark.driver.maxResultSize": "16g"}
    )
    con = duckdb.connect()
    make_duck_views(con, SF_DIR)
    qs, oracles = e.queries(), e.oracle_sql()
    unknown = ONLY - set(qs)
    if unknown:
        # a typo'd name silently verifying nothing is how a green gate
        # ships a regression — fail loudly instead.
        print(f"LINT  unknown query name(s): {sorted(unknown)}")
        return 1
    problems: list[str] = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
        except Exception as ex:
            problems.append(f"{name}: spark build error: {ex}")
            continue
        for f in sdf.schema.fields:
            if f.dataType.typeName() in NON_SCALAR_SPARK:
                problems.append(
                    f"{name}: non-scalar Spark output column "
                    f"{f.name} ({f.dataType.simpleString()}) — rule 1"
                )
        if name not in oracles:
            # rows-only entry; the driver records a weaker check — but
            # the Spark output still participates in the -0.0 sweep.
            if NEGZERO:
                try:
                    sweep_spark_negzero(name, sdf, problems)
                except Exception as ex:
                    problems.append(f"{name}: -0.0 sweep error: {ex}")
            continue
        try:
            rel = con.execute(
                f"DESCRIBE SELECT * FROM ({oracles[name]}) LIMIT 0"
            ).fetchall()
        except Exception as ex:
            problems.append(f"{name}: oracle does not parse: {ex}")
            continue
        dcols = [r[0] for r in rel]
        dtypes = {r[0]: r[1] for r in rel}
        if sorted(dcols) != sorted(sdf.columns):
            problems.append(
                f"{name}: column-name mismatch — spark {sorted(sdf.columns)}"
                f" vs oracle {sorted(dcols)} — rule 5a"
            )
        for c, t in dtypes.items():
            if "[]" in t or t.startswith(("STRUCT", "MAP", "LIST")):
                problems.append(
                    f"{name}: non-scalar oracle column {c} ({t}) — rule 5b"
                )
        if NEGZERO:
            try:
                sweep_spark_negzero(name, sdf, problems)
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                for i, n in count_negzero(res.fetchall()).items():
                    problems.append(
                        f"{name}: oracle column {ocols[i]} emits "
                        f"{n} -0.0 cell(s) — rule 7 (add `+ 0.0`)"
                    )
            except Exception as ex:
                problems.append(f"{name}: -0.0 sweep error: {ex}")
    for p in problems:
        print(f"LINT  {p}")
    checked = [n for n in qs if not ONLY or n in ONLY]
    bad = {p.split(":")[0] for p in problems}
    print(f"\n{len(checked) - len(bad)}/{len(checked)} clean")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
