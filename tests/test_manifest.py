"""Staleness-manifest closure tests (r5 VERDICT "Next round" #3).

The manifest hash must cover the transitive helper closure of each
registered function: editing a shared helper (or a module-level constant it
reads) must flip the hash of every dependent key, forcing the builder
through the regen-manifest / _CHANGED_IN_ROUND decision instead of leaving
stale driver-green verdicts standing.
"""

import importlib.util
import linecache
import sys
import textwrap

from tools.gen_manifest import closure_sources, key_hash

_MOD_NAME = "data_transform_spark._manifest_probe"

_V1 = """
CONST = 1

def helper(x):
    return x + CONST

def unrelated(x):
    return x - 99

def op(x):
    return helper(x) * 2
"""

# helper body changed — op's own source identical
_V2 = _V1.replace("return x + CONST", "return x + CONST + 1")
# constant value changed — all function sources identical
_V3 = _V1.replace("CONST = 1", "CONST = 2")
# only the UNREFERENCED function changed — op's closure identical
_V4 = _V1.replace("return x - 99", "return x - 100")


def _load(tmp_path, src: str):
    p = tmp_path / "probe_mod.py"
    p.write_text(textwrap.dedent(src))
    linecache.clearcache()
    spec = importlib.util.spec_from_file_location(_MOD_NAME, p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[_MOD_NAME] = mod
    try:
        spec.loader.exec_module(mod)
        return mod
    finally:
        pass


def test_helper_edit_flips_dependent_key_hash(tmp_path):
    h1 = key_hash(_load(tmp_path, _V1).op, "SELECT 1")
    h2 = key_hash(_load(tmp_path, _V2).op, "SELECT 1")
    assert h1 != h2, "helper body edit did not change the dependent key hash"


def test_constant_edit_flips_dependent_key_hash(tmp_path):
    h1 = key_hash(_load(tmp_path, _V1).op, "SELECT 1")
    h3 = key_hash(_load(tmp_path, _V3).op, "SELECT 1")
    assert h1 != h3, "module-constant edit did not change the dependent key hash"


def test_unreferenced_edit_does_not_flip_hash(tmp_path):
    h1 = key_hash(_load(tmp_path, _V1).op, "SELECT 1")
    h4 = key_hash(_load(tmp_path, _V4).op, "SELECT 1")
    assert h1 == h4, "editing an unreferenced function must not flip the hash"


def test_real_key_closure_reaches_shared_helpers():
    """The minhash family's hash must cover the helpers the r5 judge named
    as the open hole: a cc_survivor_ids / minhash_signatures / load_table
    edit re-flags every dependent green key."""
    import __spark_entry__  # noqa: F401 — populates registry

    from data_transform_spark.registry import QUERIES

    near = set(closure_sources(QUERIES["dedup_near_minhash"]))
    assert any(n.endswith("minhash_signatures") for n in near), near
    assert any(n.endswith("load_table") for n in near), near

    surv = set(closure_sources(QUERIES["dedup_near_survivors"]))
    assert any("cc" in n and "survivor" in n for n in surv) or any(
        n.endswith("cc_labels") for n in surv
    ), surv


def test_oracle_string_still_hashed(tmp_path):
    mod = _load(tmp_path, _V1)
    assert key_hash(mod.op, "SELECT 1") != key_hash(mod.op, "SELECT 2")


def test_registry_growth_does_not_flip_hashes():
    """The register decorator's code reaches the mutable QUERIES/ORACLES
    dicts; they must be excluded from closures — their content and order
    depend on module import order (pytest's differs from the driver's),
    which made udtf_tokenize / udf_sql_registered / scan_python_datasource
    hashes flip between processes (r6 full-suite flake)."""
    import __spark_entry__  # noqa: F401

    from data_transform_spark.registry import ORACLES, QUERIES, register

    keys = ("udtf_tokenize", "udf_sql_registered", "scan_python_datasource")
    before = {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in keys}

    @register("_manifest_probe_key", oracle="SELECT 1 AS one")
    def _probe(spark, sf_dir):  # pragma: no cover - never executed
        return None

    try:
        after = {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in keys}
        assert before == after, "registry growth flipped existing key hashes"
    finally:
        QUERIES.pop("_manifest_probe_key", None)
        ORACLES.pop("_manifest_probe_key", None)


def test_live_share_does_not_flip_hashes():
    """The share registry holds DataFrames while a key's shares are live;
    its repr must not join the hash of the keys whose closure reaches it,
    or the green-set guard would pass or fail depending on whether a
    share happened to be registered."""
    import __spark_entry__  # noqa: F401

    from data_transform_spark import shares
    from data_transform_spark.registry import ORACLES, QUERIES

    keys = ("pipeline_e2e_llm", "pipeline_e2e_llm_v3", "pipeline_e2e_llm_v4")
    before = {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in keys}
    shares._SHARES.append(object())
    try:
        after = {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in keys}
    finally:
        shares._SHARES.pop()
    assert before == after, "a live share flipped capstone key hashes"


def test_populated_schema_map_does_not_flip_hashes(monkeypatch):
    """io._SCHEMAS fills as tables are read and is reachable from every key
    that loads a table; its contents must not join those keys' hashes."""
    import __spark_entry__  # noqa: F401

    from pyspark.sql.types import LongType, StructField, StructType

    from data_transform_spark import io
    from data_transform_spark.registry import ORACLES, QUERIES

    keys = ("tpch_q1", "graph_label_prop", "stream_watermark", "pipeline_e2e")
    monkeypatch.setattr(io, "_SCHEMAS", {})
    before = {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in keys}
    io._SCHEMAS[("/t.parquet",)] = ((), StructType([StructField("a", LongType())]))
    after = {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in keys}
    assert before == after, "a populated schema map flipped key hashes"


_V_PATH = """
import os

ROOT = {root!r}
SCRATCH = os.path.join(ROOT, ".scratch")

def op(x):
    return SCRATCH + x
"""


def test_path_constant_hash_independent_of_checkout_root(tmp_path, monkeypatch):
    """A path constant under the checkout root (operators/scans.py:SCRATCH)
    must hash the same from any checkout, while a path that moves within
    the checkout still flips the hash."""
    import tools.gen_manifest as gm

    def hash_under(root, sub=".scratch"):
        monkeypatch.setattr(gm, "_REPO", root)
        src = _V_PATH.format(root=root).replace('".scratch"', repr(sub))
        return key_hash(_load(tmp_path, src).op, "SELECT 1")

    h_a = hash_under("/srv/checkout-a/repo")
    h_b = hash_under("/home/ci/other/repo")
    assert h_a == h_b, "the checkout root leaked into the hash"
    assert hash_under("/srv/checkout-a/repo", ".cache") != h_a
