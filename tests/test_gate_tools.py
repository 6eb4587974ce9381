"""The gate and measurement tooling is itself load-bearing (the r06
lesson: a canonicalizer strictly weaker than the driver's shipped two
hash-red rounds), so its behavior is pinned here — pure-python except
the scale_run test, which drives the timing loop on the shared session.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest

from tools.gate_lint import GATE_SLOTS, compute_rotation, count_negzero
from tools.local_verify import canon, table_hash


def test_canon_distinguishes_signed_zero():
    """The driver renders floats at fixed precision, where -0.000000 !=
    0.000000 — canon() must keep the distinction (r06: collapsing both
    to "0" made the local gate blind to the driver's failure class)."""
    assert canon(0.0) == "0"
    assert canon(-0.0) == "-0"
    assert canon(0.0) != canon(-0.0)


def test_canon_integer_collapse_and_precision():
    assert canon(2.0) == "2"
    assert canon(-2.0) == "-2"
    assert canon(2.5) == "2.500000"
    assert canon(float("nan")) == "NaN"
    assert canon(None) == "NULL"
    assert canon(True) == "1"
    # huge exact doubles stay in the %.6f branch (int() would lose
    # nothing here, but the 1e15 cutoff guards float->int surprises)
    assert canon(1e16) == f"{1e16:.6f}"


def test_table_hash_order_insensitive_but_zero_sign_sensitive():
    cols = ["a", "b"]
    rows1 = [(1, 0.0), (2, 3.5)]
    rows2 = [(2, 3.5), (1, 0.0)]  # row order must not matter
    assert table_hash(cols, rows1) == table_hash(cols, rows2)
    rows3 = [(1, -0.0), (2, 3.5)]  # zero sign MUST matter
    assert table_hash(cols, rows1) != table_hash(cols, rows3)
    # column order must not matter either (sorted by name)
    assert table_hash(["b", "a"], [(0.0, 1), (3.5, 2)]) == table_hash(
        cols, rows1
    )


def test_count_negzero_finds_only_negative_zero_floats():
    rows = [
        (1, 0.0, -0.0),
        (2, -0.0, 1.5),
        (3, None, -0.0),
        (4, 0, False),  # ints/bools are not float cells
    ]
    hits = count_negzero(rows)
    assert hits == {1: 1, 2: 2}


def test_negzero_normalizer_identity():
    """`x + 0.0` is the prescribed fix (GATE_CONTRACT rule 7): a no-op
    for every float except -0.0 -> +0.0."""
    assert math.copysign(1.0, -0.0 + 0.0) > 0
    for v in (0.0, -1.25, 7.5, -0.005, 1e300, -1e-300):
        assert v + 0.0 == v and math.copysign(1.0, v + 0.0) == math.copysign(
            1.0, v
        )


def test_duck_round_mirrors_duckdb_exactly():
    """_duck_round (vector/similarity.py) must reproduce DuckDB's
    ROUND-on-DOUBLE bit-for-bit — including one-ulp-below-half values
    where floor(y + 0.5) diverges (the +0.5 addition rounds up) and
    exact .5 products (half AWAY from zero, unlike Python's half-even).
    This is what makes power_iteration's un-nudged 9dp normalize safe."""
    import random

    import duckdb

    from propensity_spark.vector.similarity import _duck_round

    con = duckdb.connect()
    random.seed(11)
    vals = [random.uniform(-1, 1) for _ in range(5000)]
    # adversarial: near 9dp half boundaries, both signs, +- k ulp
    vals += [((2 * k + 1) * 5e-10) * (1 + e) for k in range(300)
             for e in (0.0, 1e-16, -1e-16, 3e-16)]
    vals += [-v for v in vals[-1200:]]
    vals += [4.999999999999999e-10, -4.999999999999999e-10,
             0.5 / 1e9, -0.5 / 1e9, 2.5 / 1e9, -2.5 / 1e9, 0.0]
    duck = [r[0] for r in con.execute(
        "SELECT round(x, 9) FROM (SELECT unnest(?::DOUBLE[]) AS x)", [vals]
    ).fetchall()]
    import math
    for v, dr in zip(vals, duck):
        mv = _duck_round(v, 9)
        assert mv == dr and math.copysign(1.0, mv) == math.copysign(1.0, dr), (
            repr(v), repr(mv), repr(dr))


def test_verify_sf1_special_paths_cover_registry_entries():
    """tools/verify_sf1.py is the one-command sf1 gate: its special-path
    list must name real registry entries (drift = an entry silently
    losing its only feasible sf1 verifier), and the plain set plus the
    special set must cover the registry exactly."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import __spark_entry__ as e
    from verify_sf1 import SPECIAL

    names = set(e.queries())
    assert set(SPECIAL) <= names
    for build in SPECIAL.values():
        argv = build("/tmp/x")
        assert Path(argv[1]).exists()  # the verifier script itself


def test_bigresult_canon_escapes_separator_and_null():
    """r08 ADVICE: the checksum's canonical line must be injective —
    '|' in values, literal 'NULL'/'\\N' strings, and SQL NULL all encode
    distinctly."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from verify_bigresult import _checksum_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t(a VARCHAR, b VARCHAR)")
    con.execute(
        r"INSERT INTO t VALUES ('x|y','z'), ('x','y|z'), (NULL,'\N'), "
        r"('\N',NULL), ('NULL','q')"
    )
    sql = _checksum_sql(["a", "b"], "t")
    inner = sql.split("FROM (", 1)[1].rsplit(")", 1)[0]
    assert con.execute(f"SELECT count(DISTINCT line) FROM ({inner})").fetchone()[0] == 5


def test_compute_rotation_rejects_head_that_crowds_out_stale_entries(tmp_path):
    """A head that leaves too few slots for the entries STALENESS_BUDGET-1
    rounds stale must fail when the gate is built, not one round later
    in `--rotation`. Synthetic history: 45 entries last verified r01, 55
    in r02; the r05 gate must hold all 45 (3 rounds stale at r04)."""
    names = [f"q{i:03d}" for i in range(100)]
    for rnd, verified in ((1, names[:45]), (2, names[45:])):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {} for n in verified})
        )

    gate = compute_rotation(names, upto_round=5, repo=tmp_path)
    assert len(gate) == GATE_SLOTS and set(names[:45]) <= set(gate)
    # a head inside the stale cohort costs no extra slots
    gate = compute_rotation(names, upto_round=5, head=names[:6], repo=tmp_path)
    assert gate[:6] == names[:6] and set(names[:45]) <= set(gate)
    # 5 fresh head entries fit exactly; a 6th would push a stale one out
    compute_rotation(names, upto_round=5, head=names[60:65], repo=tmp_path)
    with pytest.raises(ValueError, match="overflows"):
        compute_rotation(names, upto_round=5, head=names[60:66], repo=tmp_path)


def test_propose_rotation_refuses_a_head_already_verified(
    tmp_path, monkeypatch, capsys
):
    """`--propose` builds next round's gate from GATE_PRIORITY_HEAD. A
    head whose entries all have a driver row in the newest round is
    last round's touched list: it exits 1 instead of printing a gate.
    One head entry missing from that round is enough to propose."""
    import __spark_entry__ as e
    from tools.gate_lint import propose_rotation

    names = list(e.queries())
    head = names[:3]
    monkeypatch.setattr(e, "GATE_PRIORITY_HEAD", head)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({n: {} for n in names}))
    newest = tmp_path / "CORRECTNESS_r02.json"

    newest.write_text(json.dumps({n: {} for n in head}))
    assert propose_rotation(repo=tmp_path) == 1
    out = capsys.readouterr()
    assert "r02" in out.err and "GATE_PRIORITY_HEAD" in out.err and out.out == ""

    newest.write_text(json.dumps({n: {} for n in head[:2]}))
    assert propose_rotation(repo=tmp_path) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "# GATE_ROTATION_ROUND = 3"
    assert [ln.split('"')[1] for ln in lines[2:5]] == head


def test_every_library_def_is_reachable_from_non_test_code():
    """Every top-level def and class in propensity_spark/ is reached,
    through the closure of the identifiers its text names, from code
    that is not a test: module-level code (the QUERIES / ORACLES
    registries), tools/, perfbench/, __spark_entry__.py and bench.py.
    Names match anywhere in the text, strings and comments included,
    so the check errs toward calling a def live."""
    import ast
    import re

    root = Path(__file__).resolve().parents[1]
    files = [*root.glob("propensity_spark/**/*.py"), *root.glob("tools/*.py"),
             *root.glob("perfbench/*.py"), root / "__spark_entry__.py", root / "bench.py"]
    words = lambda lines: set(re.findall(r"\w+", "\n".join(lines)))  # noqa: E731
    defs, reached = {}, set()
    for f in files:
        text = f.read_text()
        lines, rest = text.splitlines(), text.splitlines()
        if f.relative_to(root).parts[0] == "propensity_spark":
            for st in ast.parse(text).body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    a = min([st.lineno] + [d.lineno for d in st.decorator_list]) - 1
                    defs.setdefault(st.name, set()).update(words(lines[a:st.end_lineno]))
                    rest[a:st.end_lineno] = [""] * (st.end_lineno - a)
        reached |= words(rest)
    todo = list(reached & defs.keys())
    while todo:
        new = (defs[todo.pop()] & defs.keys()) - reached
        reached |= new
        todo += new
    dead = sorted(defs.keys() - reached)
    assert not dead, "unreachable: " + ", ".join(dead)


def test_scale_run_reports_rows_exponent_flags_and_split(spark):
    """tools/scale_run.py, the one per-query timing loop: a two-dir run
    reports rows equal to a direct count, the exponent over the parsed
    SF ratio (10), the red-flag audit and, with --split, the four phase
    minima; a one-dir run keeps the BENCH_sf1_r{N}.json record keys."""
    import __spark_entry__ as e
    from tools.scale_run import main, sf_of

    small, big = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    assert sf_of(big) / sf_of(small) == pytest.approx(10.0)
    qs = e.queries()
    names = ["tpch_q1", "labels"]
    counts = {(n, d): qs[n](spark, d).count() for n in names for d in (small, big)}
    base = ["--sf-dir", small, big, "--only", *names, "--repeats", "1"]
    for split in (False, True):
        rec = main(base + ["--split"] * split, spark=spark)
        assert set(rec) == {"repeats", "queries", "rows"}
        for n in names:
            q = rec["queries"][n]
            assert set(q) == {"sf0.001_sec", "sf0.01_sec", "exponent",
                              "plan_red_flags", *["split"] * split}
            for d in (small, big):
                assert rec["rows"][n][Path(d).name] == counts[n, d]
            assert q["exponent"] == pytest.approx(
                math.log(q["sf0.01_sec"] / q["sf0.001_sec"]) / math.log(10.0), abs=1e-3
            )
            assert isinstance(q["plan_red_flags"], list)
            if split:
                for d in ("sf0.001", "sf0.01"):
                    assert set(q["split"][d]) == {"build", "plan", "noop", "count"}
                    assert q["split"][d]["count"] == q[f"{d}_sec"]

    rec = main(["--sf-dir", big, "--heavy", "--only", "tpch_q1", "--repeats", "1"],
               spark=spark)
    assert set(rec) == {"metric", "value", "unit", "sf", "repeats", "queries"}
    assert rec["metric"] == "heavy_queries_total_sf0.01" and rec["sf"] == 0.01
    assert set(rec["queries"]["tpch_q1"]) == {"sec", "rows", "plan_red_flags"}
    assert rec["queries"]["tpch_q1"]["rows"] == counts["tpch_q1", big]
