"""Registry exposure tiers — the bounded driver sweep must always land
on full SURVEY §2 family coverage (see registry.CANONICAL) — and the
session-stage lifetime policy (registry.stage)."""

from __future__ import annotations

import re
from types import SimpleNamespace

from a3_fp_bigdata_spark import registry

#: Query-name prefix per SURVEY §2 operator family.
FAMILIES = [
    "a", "d", "dq", "f", "g", "j", "ml", "mm", "p", "pk", "pl", "sim",
    "so", "sql", "src", "srv", "st", "t", "tk", "tx", "u", "w", "x",
]

DRIVER_WINDOW = 50  # round-1 driver checked exactly the first 50 names


def _family(name: str) -> str:
    m = re.match(r"([a-z]+)", name)
    prefixes = sorted(FAMILIES, key=len, reverse=True)
    for p in prefixes:
        if m.group(1) == p or name.startswith(p) and name[len(p)].isdigit():
            return p
    return m.group(1)


def test_canonical_fits_driver_window():
    exposed = sorted(registry.exposed_queries())
    window = exposed[:DRIVER_WINDOW]
    # every canonical name is inside the window, un-renamed
    assert sorted(registry.CANONICAL) == window


def test_driver_window_in_insertion_order():
    """The driver consumes the first 50 entries in dict-INSERTION order
    (it never re-sorts), so insertion order itself must put the canonical
    tier first. Round 2 regression: sorting by original name before
    renaming left the window at the first 50 *original* names."""
    names = list(registry.exposed_queries())
    assert names[:DRIVER_WINDOW] == sorted(registry.CANONICAL)
    assert names == sorted(names), "exposure dict must be sorted by exposure name"
    # same contract for the oracle map
    onames = list(registry.exposed_oracles())
    assert onames == sorted(onames)


#: Families whose canonical slot was rotated out after earning a green
#: driver row in a prior round's CORRECTNESS artifact (the rotation
#: protocol: a family may cede its slot to newer, un-attested work once
#: its representative is driver-attested and its plan shape is carried
#: by a surviving canonical query + z_ parity twins).
ROTATED_OUT_FAMILIES = {
    # p6_substring_predicate: green in CORRECTNESS_r05; pushed-scan
    # surface carried by t1, ladder parity-checked as z_p1..z_p8
    "p",
    # x1_json_extract: green in CORRECTNESS_r07; ceded the 50th slot
    # to d15_duplicated_spans (r8) — the x1/x2/x3 semistructured
    # ladder stays oracle-backed as z_ twins, and x1's from_json
    # surface also runs inside src2/src3's JSON round-trips
    "x",
}


def test_every_family_has_oracle_backed_canonical_entry():
    oracles = registry.all_oracles()
    for fam in FAMILIES:
        if fam in ROTATED_OUT_FAMILIES:
            continue
        members = [n for n in registry.CANONICAL if _family(n) == fam]
        assert members, f"family {fam!r} missing from CANONICAL"
        # r13 removed the historical "ml" exception: ml1/ml5 are now
        # scratch-oracle-backed (assignments/scores taken as given,
        # aggregation replayed by DuckDB), so EVERY family must carry
        # an oracle-backed canonical entry.
        assert any(n in oracles for n in members), (
            f"family {fam!r} has no oracle-backed canonical entry"
        )


def test_deferred_names_round_trip():
    qs = registry.all_queries()
    exposed = registry.exposed_queries()
    assert len(exposed) == len(qs)
    for name in qs:
        assert registry.exposure_name(name) in exposed
    # oracle keys match query keys (the driver joins on them)
    assert set(registry.exposed_oracles()) <= set(exposed)


def test_headline_queries_resolve():
    """BENCH per-query keys must stay stable round-over-round: every
    HEADLINE name must be a live EXPOSURE name (canonical, or a z_
    depth name for queries rotated out of the driver window — their
    timing keeps flowing into the headline sum under the new key)."""
    import bench

    exposed = set(registry.exposed_queries())
    missing = set(bench.HEADLINE) - exposed
    assert not missing, f"HEADLINE names not exposed: {missing}"


def test_bench_emits_calib_normalized_headline():
    """BENCH_r{N}.json must self-describe across host-speed drift
    (VERDICT r8 'what's wrong' #1): bench.py pins CALIB_REF and its
    summary carries value_norm = value * CALIB_REF / mean(calib). The
    constant must never be retuned — its worth is being identical in
    every round's artifact."""
    import os

    import bench

    assert bench.CALIB_REF == 0.52
    src = open(
        os.path.join(os.path.dirname(os.path.abspath(bench.__file__)))
        + "/bench.py"
    ).read()
    # both the committed full file and the printed driver line carry it
    assert src.count('"value_norm": value_norm') == 2
    # the oversize-line fallback keeps it too
    assert '"value_norm"' in src.split("if len(line) >= 2000")[1][:400]


def test_doc_counts_rendered_from_registry():
    """The query/oracle tallies in __spark_entry__'s docstring and the
    README/SURVEY prose must equal the live registry — two consecutive
    rounds shipped off-by-N hand-written counts (VERDICT r6 #3, r7 #3),
    so the docstring is now token-rendered at import and this test pins
    every remaining prose tally to the registry."""
    import os

    import __spark_entry__ as e

    n_q = len(registry.exposed_queries())
    n_o = len(registry.exposed_oracles())
    doc = e.__doc__ or ""
    assert "{N_QUERIES}" not in doc and "{N_ORACLES}" not in doc
    assert f"({n_q} queries, {n_o}" in doc.replace("\n", " ")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for fname in ("README.md", "SURVEY.md"):
        text = open(os.path.join(root, fname)).read()
        # strip blockquote markers BEFORE joining: a tally that wraps
        # across '> '-prefixed lines otherwise reads '155 > oracle-…'
        # and escapes the regex pin (exactly how a stale count shipped
        # green mid-round-8)
        text = re.sub(r"^> ?", "", text, flags=re.M)
        joined = " ".join(text.split())
        for m in re.finditer(r"(\d+) registered queries", joined):
            assert int(m.group(1)) == n_q, (fname, m.group(0))
        for m in re.finditer(r"(\d+) oracle-backed as of round", joined):
            assert int(m.group(1)) == n_o, (fname, m.group(0))


class _StubSession:
    """Just enough of a SparkSession for registry.stage(): a session
    token and a context whose ``_jsc`` goes away on stop()."""

    def __init__(self, app_id: str):
        self.sparkContext = SimpleNamespace(applicationId=app_id, _jsc=object())

    def stop(self) -> None:
        self.sparkContext._jsc = None


def _stats(name: str) -> dict[str, int]:
    return registry.stage_stats().get(name, {"hits": 0, "misses": 0})


def test_stage_builds_once_per_name_session_and_key():
    s, other = _StubSession("stub-once-1"), _StubSession("stub-once-2")
    calls: list[str] = []

    def build(v: str):
        return lambda: calls.append(v) or v

    before = _stats("t_once")
    try:
        assert registry.stage("t_once", s, ("x",), build("x")) == "x"
        assert registry.stage("t_once", s, ("x",), build("x2")) == "x"
        assert registry.stage("t_once", s, ("y",), build("y")) == "y"
        assert registry.stage("t_once", other, ("x",), build("x3")) == "x3"
        assert registry.stage("t_other", s, ("x",), build("o")) == "o"
        assert calls == ["x", "y", "x3", "o"]
        after = _stats("t_once")
        assert after["misses"] - before["misses"] == 3
        assert after["hits"] - before["hits"] == 1
    finally:
        registry.release_stages("t_once", "t_other")


def test_stage_evicts_stopped_sessions_on_next_miss():
    dead, live = _StubSession("stub-dead"), _StubSession("stub-live")
    try:
        registry.stage("t_evict", dead, (), lambda: "old")
        registry.stage("t_evict", live, (), lambda: "kept")
        dead.stop()
        # a miss on any key sweeps the stopped session's entries ...
        registry.stage("t_evict", live, ("new",), lambda: "new")
        assert registry.stage("t_evict", dead, (), lambda: "rebuilt") == "rebuilt"
        # ... and leaves live sessions' entries alone
        assert registry.stage("t_evict", live, (), lambda: "rebuilt") == "kept"
    finally:
        registry.release_stages("t_evict")


def test_release_stages_drops_only_named_families():
    s = _StubSession("stub-release")
    try:
        registry.stage("a", s, (), lambda: "a1")
        registry.stage("b", s, (), lambda: "b1")
        registry.release_stages("a")
        assert registry.stage("a", s, (), lambda: "a2") == "a2"
        assert registry.stage("b", s, (), lambda: "b2") == "b1"
    finally:
        registry.release_stages("a", "b")


def test_release_stages_unpersists_dataframe_values(spark):
    from pyspark import StorageLevel

    df = registry.stage(
        "t_df", spark, (),
        lambda: spark.range(10).persist(StorageLevel.MEMORY_AND_DISK),
    )
    assert df.count() == 10
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    registry.release_stages("t_df")
    assert df.storageLevel == StorageLevel.NONE


def test_oracle_builder_called_once_after_modules_load():
    calls: list[int] = []

    def build() -> str:
        calls.append(1)
        return "SELECT 1 AS one"

    registry.query("t_builder", oracle=build)(lambda spark, sf_dir: None)
    try:
        assert registry.all_oracles()["t_builder"] == "SELECT 1 AS one"
        assert registry.get("t_builder").oracle == "SELECT 1 AS one"
        assert calls == [1]
    finally:
        registry._REGISTRY.pop("t_builder")


def test_standalone_module_import_resolves_shared_oracle():
    """A module imported on its own must not depend on another module's
    registration order: st14 reuses dq4's oracle builder."""
    import subprocess
    import sys

    code = (
        "import a3_fp_bigdata_spark.streaming.drift\n"
        "from a3_fp_bigdata_spark.registry import get\n"
        "sql = get('st14_stream_embedding_drift').oracle\n"
        "assert sql and sql == get('dq4_embedding_drift').oracle\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=300)


def _library_files_containing(needle: str) -> list[str]:
    """a3_fp_bigdata_spark/**/*.py paths (package-relative) whose source
    contains ``needle``."""
    from pathlib import Path

    root = Path(registry.__file__).parent
    return [
        str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
        if needle in p.read_text()
    ]


def test_only_registry_touches_the_registry_table():
    # oracles that need other modules register a builder instead
    assert _library_files_containing("_REGISTRY") == ["registry.py"]


def test_only_data_stamps_audit_scratch():
    # every audit-scratch write goes through data.attest
    assert _library_files_containing('alias("n_src")') == ["data.py"]
