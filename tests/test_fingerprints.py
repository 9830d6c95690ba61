"""fingerprints.py: kernel (module-source-closure) fingerprint semantics.

The contract round_compare relies on (VERDICT r9 item 3): a Python
kernel-body edit — invisible to the optimized-plan hash — must move the
kernel fingerprint of every query whose code can reach the edited
module, and must NOT move queries that cannot reach it.
"""

from __future__ import annotations

import importlib
import sys
import textwrap

from stock_etl_pipeline_spark import fingerprints


def _mk_pkg(tmp_path):
    pkg = tmp_path / "fp_pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "helper.py").write_text(
        textwrap.dedent(
            """
            def kern(x):
                return x + 1
            """
        )
    )
    (pkg / "other.py").write_text("UNRELATED = 1\n")
    (pkg / "query.py").write_text(
        textwrap.dedent(
            """
            from fp_pkg.helper import kern

            def q(spark, sf_dir):
                return kern(0)
            """
        )
    )
    sys.path.insert(0, str(tmp_path))
    return pkg


def _cleanup(tmp_path):
    sys.path.remove(str(tmp_path))
    for name in [n for n in sys.modules if n.startswith("fp_pkg")]:
        del sys.modules[name]


def test_kernel_edit_moves_fingerprint_unrelated_does_not(tmp_path):
    pkg = _mk_pkg(tmp_path)
    try:
        qmod = importlib.import_module("fp_pkg.query")
        closure = fingerprints.module_closure(qmod, pkg_prefix="fp_pkg")
        # the imported-function edge pulls in the sibling module
        assert set(closure) == {"fp_pkg.query", "fp_pkg.helper"}

        h0 = fingerprints.kernel_fingerprint(qmod.q, pkg_prefix="fp_pkg")
        assert h0 is not None

        # kernel-BODY edit in the reachable sibling (no reload needed:
        # the fingerprint reads file bytes, not loaded code objects)
        (pkg / "helper.py").write_text("def kern(x):\n    return x + 2\n")
        fingerprints.clear_fingerprint_caches()
        h1 = fingerprints.kernel_fingerprint(qmod.q, pkg_prefix="fp_pkg")
        assert h1 != h0

        # an edit to a module the query CANNOT reach leaves it stable
        (pkg / "other.py").write_text("UNRELATED = 2\n")
        fingerprints.clear_fingerprint_caches()
        h2 = fingerprints.kernel_fingerprint(qmod.q, pkg_prefix="fp_pkg")
        assert h2 == h1
    finally:
        _cleanup(tmp_path)


def test_kernel_hash_per_function_granularity(tmp_path):
    """fp_version 3 (VERDICT r10 item 3): editing ONE function in a shared
    module flips only the queries whose closure contains it — the v2
    module-closure scheme marked every query in the module family touched
    on any edit, and since operators/dedup.py is edited nearly every
    round, the doc family would never be 'untouched' again. Also pins the
    constant path (editing a module-level constant flips its readers) and
    location-independence (appending an unrelated function flips nobody).
    """
    pkg = tmp_path / "fp3_pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    helper = textwrap.dedent(
        """
        THRESH = 10

        def kern_a(x):
            return x + THRESH

        def kern_b(x):
            return x * 2
        """
    )
    (pkg / "helper.py").write_text(helper)
    (pkg / "query.py").write_text(
        textwrap.dedent(
            """
            from fp3_pkg.helper import kern_a, kern_b

            def qa(spark, sf_dir):
                return kern_a(0)

            def qb(spark, sf_dir):
                return kern_b(0)
            """
        )
    )
    sys.path.insert(0, str(tmp_path))
    try:
        qmod = importlib.import_module("fp3_pkg.query")
        fp = lambda f: fingerprints.kernel_fingerprint(f, pkg_prefix="fp3_pkg")
        a0, b0 = fp(qmod.qa), fp(qmod.qb)
        assert a0 is not None and b0 is not None and a0 != b0

        # edit kern_b's BODY only (kern_a's segment and line positions are
        # untouched): qb flips, qa must not
        (pkg / "helper.py").write_text(helper.replace("x * 2", "x * 3"))
        fingerprints.clear_fingerprint_caches()
        a1, b1 = fp(qmod.qa), fp(qmod.qb)
        assert b1 != b0, "edited kern_b must flip qb"
        assert a1 == a0, "kern_a untouched — qa must be stable"

        # edit the CONSTANT kern_a reads: qa flips now, qb stays
        (pkg / "helper.py").write_text(
            helper.replace("x * 2", "x * 3").replace("THRESH = 10", "THRESH = 11")
        )
        fingerprints.clear_fingerprint_caches()
        a2, b2 = fp(qmod.qa), fp(qmod.qb)
        assert a2 != a1, "edited THRESH must flip qa (kern_a reads it)"
        assert b2 == b1, "qb does not read THRESH — stable"

        # append an unrelated function at the END (no positions shift):
        # nobody flips — per-function hashes are location-independent
        (pkg / "helper.py").write_text(
            helper.replace("x * 2", "x * 3").replace("THRESH = 10", "THRESH = 11")
            + "\ndef kern_c(x):\n    return x - 1\n"
        )
        fingerprints.clear_fingerprint_caches()
        assert fp(qmod.qa) == a2 and fp(qmod.qb) == b2
    finally:
        sys.path.remove(str(tmp_path))
        for name in [n for n in sys.modules if n.startswith("fp3_pkg")]:
            del sys.modules[name]


def test_kernel_hash_covers_inherited_methods(tmp_path):
    """code-review r11: a query calling Derived().run() where run() lives
    on an in-package BASE class must have the base in its closure —
    editing Base.run changes behavior while Derived's own source is
    untouched (a missed touch would silently bias the ruler)."""
    pkg = tmp_path / "fp3m_pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    base_src = textwrap.dedent(
        """
        class Base:
            def run(self):
                return 1
        """
    )
    (pkg / "base.py").write_text(base_src)
    (pkg / "query.py").write_text(
        textwrap.dedent(
            """
            from fp3m_pkg.base import Base

            class Derived(Base):
                pass

            def q(spark, sf_dir):
                return Derived().run()
            """
        )
    )
    sys.path.insert(0, str(tmp_path))
    try:
        qmod = importlib.import_module("fp3m_pkg.query")
        closure = fingerprints.function_closure(qmod.q, pkg_prefix="fp3m_pkg")
        assert "cls:fp3m_pkg.base.Base" in closure
        h0 = fingerprints.kernel_fingerprint(qmod.q, pkg_prefix="fp3m_pkg")
        (pkg / "base.py").write_text(base_src.replace("return 1", "return 2"))
        fingerprints.clear_fingerprint_caches()
        assert fingerprints.kernel_fingerprint(qmod.q, pkg_prefix="fp3m_pkg") != h0
    finally:
        sys.path.remove(str(tmp_path))
        for name in [n for n in sys.modules if n.startswith("fp3m_pkg")]:
            del sys.modules[name]


def test_kernel_hash_granularity_on_real_dedup_module(monkeypatch):
    """The dedup.py case the VERDICT names: a simulated edit of ONE
    function (operators.dedup.minhash_signature, via the source-hash
    seam) flips the minhash queries whose closure contains it and leaves
    doc_exact_dedup / embedding_topk / moving_averages untouched — under
    v2 every doc query shared one module-closure hash and any dedup.py
    edit flipped them all."""
    from stock_etl_pipeline_spark.workload import load_all

    reg = load_all()
    probe = ("doc_minhash_lsh", "doc_exact_dedup", "embedding_topk",
             "moving_averages")
    before = {n: fingerprints.kernel_fingerprint(reg[n].fn) for n in probe}

    orig = fingerprints._entity_src_hash

    def edited(obj):
        h = orig(obj)
        if (
            getattr(obj, "__qualname__", "") == "minhash_signature"
            and "operators.dedup" in getattr(obj, "__module__", "")
        ):
            return "f" * 32  # simulate a body edit of this one function
        return h

    monkeypatch.setattr(fingerprints, "_entity_src_hash", edited)
    after = {n: fingerprints.kernel_fingerprint(reg[n].fn) for n in probe}
    assert after["doc_minhash_lsh"] != before["doc_minhash_lsh"]
    for stable in ("doc_exact_dedup", "embedding_topk", "moving_averages"):
        assert after[stable] == before[stable], stable


def test_bench_queries_all_fingerprintable():
    """Every bench-flagged registry query must yield a non-None kernel
    fingerprint (a None would land it in round_compare's 'unknown' bucket
    and shrink the ruler basis)."""
    from stock_etl_pipeline_spark.workload import load_all

    registry = load_all()
    missing = [
        n
        for n, s in registry.items()
        if s.bench and fingerprints.kernel_fingerprint(s.fn) is None
    ]
    assert missing == []


def test_kernel_closures_have_per_module_granularity():
    """The closure must NOT collapse onto the whole package (the package
    __init__ submodule-attribute trap: import machinery binds pkg.child
    onto pkg — following those made all 32 bench kernel hashes identical,
    so any edit would mark every query touched and empty the
    untouched-median ruler basis). And it must SEE function-body imports
    (the static-scan half): stock's quality_suite imports quality inside
    the query fn."""
    from stock_etl_pipeline_spark.workload import docs, load_all, stock, vectors

    reg = load_all()
    kh = {
        n: fingerprints.kernel_fingerprint(s.fn)
        for n, s in reg.items()
        if s.bench
    }
    assert len(set(kh.values())) >= 4  # collapse guard

    cs = fingerprints.module_closure(stock)
    assert "stock_etl_pipeline_spark.quality" in cs  # function-body import
    assert "stock_etl_pipeline_spark.operators.asof" in cs
    assert "stock_etl_pipeline_spark.workload.docs" not in cs  # no siblings

    cd = fingerprints.module_closure(docs)
    assert "stock_etl_pipeline_spark.caching" in cd  # function-body import
    assert "stock_etl_pipeline_spark.operators.dedup" in cd
    assert "stock_etl_pipeline_spark.operators.similarity" not in cd

    cv = fingerprints.module_closure(vectors)
    assert "stock_etl_pipeline_spark.operators.similarity" in cv


def test_bench_final_line_fits_tail_capture_window():
    """The driver captures the LAST ~2000 chars of bench.py stdout and
    parses the final line; round 9 lost its artifact to a 2.6 kB line.
    Pin the contract against registry growth: the workload_total line,
    rebuilt with the CURRENT bench set and worst-case cell widths, must
    stay comfortably inside the window."""
    import json

    from stock_etl_pipeline_spark.workload import load_all

    reg = load_all()
    bench_names = sorted(n for n, s in reg.items() if s.bench)
    line = json.dumps(
        {
            "metric": "workload_total",
            "value": 99999.999,
            "unit": "sec",
            "queries": {n: 99999.999 for n in bench_names},  # worst width
            "sf": 0.001,
            "sentinel_sec": 99.999,
            "sentinel_arrow_sec": 99.999,
        }
    )
    assert len(line) < 1800, (
        f"final bench line would be {len(line)} chars — approaching the "
        "~2000-char tail window; move something to the fingerprints line"
    )


def test_plan_fingerprint_session_history_independent(spark, sf_small):
    """fp_version-2 regression (found round 10): with OPTIMIZED-plan
    hashing, quality_suite's hash depended on what planned earlier in the
    session — the CSE counter is session-global (_common_expr_N numbering)
    and RewriteDistinctAggregates orders its Expand arms by exprId
    allocation history. The ANALYZED-plan hash must not move when other
    queries plan first."""
    from stock_etl_pipeline_spark.workload import load_all

    reg = load_all()
    fresh = {
        n: fingerprints.plan_fingerprint(reg[n].fn(spark, sf_small))
        for n in ("quality_suite", "ingestion_stats")
    }
    # consume session-global optimizer state like a bench sweep does
    for n in ("transform_metrics", "daily_metrics", "ingestion_stats"):
        reg[n].fn(spark, sf_small).write.mode("overwrite").format("noop").save()
    after = {
        n: fingerprints.plan_fingerprint(reg[n].fn(spark, sf_small))
        for n in ("quality_suite", "ingestion_stats")
    }
    assert fresh == after


def test_plan_fingerprint_lambda_counter_independent(spark, sf_small):
    """fp_version-3 regression (found round 11): higher-order-function
    lambda variables are named from a SESSION-GLOBAL counter (x_3 vs x_7
    on byte-identical code depending on how many lambda-bearing plans
    were built earlier), so doc_text_stats hashed differently in bench.py
    (times every query before fingerprinting) vs a fingerprint-only
    sweep. The v3 hash strips 'lambda <name>_<n>' ordinals; the strip is
    scoped by the 'lambda ' prefix so real columns like minh_0 keep
    their ordinals (distinct minhash plan hashes prove it)."""
    from stock_etl_pipeline_spark.workload import load_all

    reg = load_all()
    fn = reg["doc_text_stats"].fn
    h1 = fingerprints.plan_fingerprint(fn(spark, sf_small))
    # burn the session-global lambda counter like bench's timing sweep
    for n in ("doc_text_stats", "doc_token_fingerprint", "doc_lang_report"):
        reg[n].fn(spark, sf_small)
    h2 = fingerprints.plan_fingerprint(fn(spark, sf_small))
    assert h1 == h2
    # column-name ordinals survive the scoped strip: the two minhash
    # variants' plans must not collapse onto one hash
    a = fingerprints.plan_fingerprint(reg["doc_minhash_lsh"].fn(spark, sf_small))
    b = fingerprints.plan_fingerprint(
        reg["doc_minhash_capped"].fn(spark, sf_small)
    )
    assert a != b


def test_plan_fingerprint_partition_width_independent(spark):
    """fp_version-3 regression (VERDICT r13 item 1): the dedup spread
    repartitions to ``defaultParallelism``, an ENVIRONMENT value — the
    driver's 8-core bench run flipped five dedup-family plan hashes vs
    the 32-core run on byte-identical code, misfiring round_compare's
    touched-set detection. The hash must mask partition-width literals
    in Repartition / RepartitionByExpression nodes while every other
    plan difference still moves it."""
    base = spark.range(100).selectExpr("id", "id % 7 AS k")
    h8 = fingerprints.plan_fingerprint(base.repartition(8))
    h32 = fingerprints.plan_fingerprint(base.repartition(32))
    assert h8 == h32
    r8 = fingerprints.plan_fingerprint(base.repartitionByRange(8, "k"))
    r32 = fingerprints.plan_fingerprint(base.repartitionByRange(32, "k"))
    assert r8 == r32
    # widths are masked, the STRUCTURE is not: a different key, a missing
    # repartition, or a different node kind all still move the hash
    assert h8 != fingerprints.plan_fingerprint(base)
    assert h8 != r8
    assert r8 != fingerprints.plan_fingerprint(base.repartitionByRange(8, "id"))


def test_plan_fingerprint_partition_width_masked_past_array_index(spark):
    """A repartition key holding "]" itself (an array index, a#[0]) must
    not end the width mask early: the width is masked on the node line's
    trailing "], <n>", and the key still moves the hash."""
    base = spark.range(100).selectExpr("id", "array(id, id % 7) AS a")
    h = [
        fingerprints.plan_fingerprint(base.repartitionByRange(n, base.a[0]))
        for n in (8, 32)
    ]
    assert h[0] == h[1]
    assert h[0] != fingerprints.plan_fingerprint(
        base.repartitionByRange(8, base.a[1])
    )
    m = [
        fingerprints.plan_fingerprint(base.repartition(n, base.a[1], "id"))
        for n in (8, 32)
    ]
    assert m[0] == m[1]


def test_table_row_count_refuses_remote_schemes(tmp_path):
    """VERDICT r13 item 2: ``datasets.table_row_count`` must refuse
    non-local schemes up front (parity with ``_total_row_groups``) —
    with an fsspec backend installed, pyarrow.dataset would otherwise
    issue serial remote footer reads on the driver inside the query
    path. Callers fall back to the distributed count()."""
    from stock_etl_pipeline_spark import datasets

    assert datasets.table_row_count("s3://bucket/sf0.1", "lineitem") is None
    assert datasets.table_row_count("hdfs://nn/sf0.1", "documents") is None
    # local paths (bare and file://) keep working
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), d)
    assert datasets.table_row_count(str(tmp_path), "documents") == 3


def test_incr_family_kernel_hashes(monkeypatch):
    """INCR freshness gate (round 12, VERDICT r11 item 2): incr_lab records
    one fp3-closure hash per index family; fp_check fails a round close
    when a family's measurement kernels moved after the INCR artifact was
    written, and exempts families whose closures are byte-identical. The
    hashes must be deterministic, per-family distinct, and sensitive to a
    kernel edit in exactly the families whose entrypoints reach it."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "incr_lab_under_test",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "incr_lab.py"),
    )
    incr_lab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(incr_lab)

    h0 = incr_lab.family_kernel_hashes()
    assert set(h0) == {"exact", "minhash", "simhash", "ivf"}
    assert all(len(v) == 12 for v in h0.values())
    assert len(set(h0.values())) == 4  # families hash distinctly
    assert incr_lab.family_kernel_hashes() == h0  # deterministic

    # a dedup.py kernel "edit" (kernel hashes of dedup-defined entrypoints
    # move) flips the dedup-backed families and leaves ivf
    # (similarity.py-defined entrypoints) exempt
    real = fingerprints.kernel_fingerprint

    def poisoned(fn, *a, **k):
        if getattr(fn, "__module__", "").endswith("operators.dedup"):
            return "deadbeef0000"
        return real(fn, *a, **k)

    monkeypatch.setattr(fingerprints, "kernel_fingerprint", poisoned)
    h1 = incr_lab.family_kernel_hashes()
    assert h1["ivf"] == h0["ivf"]
    assert all(h1[f] != h0[f] for f in ("exact", "minhash", "simhash"))


def test_kernel_fingerprint_covers_session_confs(monkeypatch):
    """session.py is folded into every real-package closure (the analyzed
    plan cannot see conf changes): a session.py byte change must move every
    bench kernel hash."""
    import stock_etl_pipeline_spark.session as sess

    from stock_etl_pipeline_spark.workload import load_all

    reg = load_all()
    some = next(s.fn for n, s in sorted(reg.items()) if s.bench)
    h0 = fingerprints.kernel_fingerprint(some)
    monkeypatch.setitem(
        fingerprints._SRC_HASH, sess.__name__, "0" * 32
    )
    h1 = fingerprints.kernel_fingerprint(some)
    assert h0 != h1
