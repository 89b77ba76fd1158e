"""The artifact store (neural_search_spark/artifacts.py): a corpus
regenerated in place and a restarted session must rebuild every reused
artifact, and no second module-level cache may creep back in."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

import neural_search_spark
from neural_search_spark import artifacts, catalog
from neural_search_spark import registry as R
from neural_search_spark.functions import bpe as BP
from neural_search_spark.functions import sparse as S
from neural_search_spark.functions import tinyformer as TF
from neural_search_spark.operators import bm25 as B
from neural_search_spark.operators import dedup as DD

from .conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _word_ids_rows(df) -> list[tuple]:
    return sorted((r["w"], tuple(r["ids"])) for r in df.collect())


def _inplan_word_ids(docs):
    """The BPE encode dictionary computed in-plan from `docs` alone:
    merges trained, symbols collected and words encoded afresh."""
    words = docs.select(F.explode(S.tokens(F.col("text"))).alias("w"))
    merges = BP.train_merges_sampled(
        words.groupBy("w").agg(F.count("*").alias("wc")),
        R.BPE_MERGES,
        max_vocab_rows=1_000_000,
    )
    distinct = words.distinct()
    syms = sorted(
        r["s"]
        for r in distinct.select(
            F.explode(BP.encode_symbols(F.col("w"), merges)).alias("s")
        )
        .distinct()
        .collect()
    )
    vmap = F.create_map(
        *[x for i, s in enumerate(syms) for x in (F.lit(s), F.lit(i + 4))]
    )
    ids = F.transform(
        BP.encode_symbols(F.col("w"), merges),
        lambda s: F.coalesce(F.element_at(vmap, s), F.lit(TF.UNK)).cast("int"),
    )
    return distinct.select("w", ids.alias("ids"))


def test_regenerate_in_place_rebuilds_every_artifact(spark, tmp_path):
    """Overwriting documents.parquet in place must make every reused
    artifact — persisted frames, driver-side values, the catalog's
    lazy frame and a memoized plan — equal a fresh computation over the
    NEW corpus, and must unpersist the frames built over the old one.
    Their storage level is read before the rebuild: the CacheManager
    matches frames by plan, and the rebuilt frames read the same path."""
    sf = str(tmp_path / "sfregen")
    os.mkdir(sf)
    path = os.path.join(sf, "documents.parquet")
    full = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    pq.write_table(full, path)

    try:
        old = {
            "postings": R._postings(spark, sf),
            "token_dfs": R._token_dfs(spark, sf),
            "word_ids": R._bpe_word_ids(spark, sf),
        }
        for df in old.values():
            df.count()
        R._mlt_stats(spark, sf).count()
        assert R._table_count(sf, "documents") == full.num_rows
        assert catalog.table(spark, sf, "documents").count() == full.num_rows
        R.SPARK_QUERIES["dedup_exact"](spark, sf).collect()
        # read no schema and built no artifact this time: memoized
        R.SPARK_QUERIES["dedup_exact"](spark, sf)
        assert artifacts.peek(sf, "plan.dedup_exact") is not None

        subset = full.slice(0, 100)
        pq.write_table(subset, path)
        docs = spark.read.parquet(path)
        postings = S.tf_postings(docs)

        # the first lookup that sees the new corpus releases the old entries
        assert R._table_count(sf, "documents") == 100
        for name, df in old.items():
            assert df.storageLevel == StorageLevel.NONE, name
        assert _rows(catalog.table(spark, sf, "documents")) == _rows(docs)
        assert _rows(R._postings(spark, sf)) == _rows(postings)
        assert _rows(R._mlt_stats(spark, sf)) == _rows(B.mlt_stats(postings))
        assert _word_ids_rows(R._bpe_word_ids(spark, sf)) == _word_ids_rows(
            _inplan_word_ids(docs)
        )
        assert _rows(R.SPARK_QUERIES["dedup_exact"](spark, sf)) == _rows(
            DD.exact_dedup(docs)
        )
    finally:
        artifacts.clear(sf)


_RESTART_SCRIPT = textwrap.dedent(
    """
    import json, sys
    from neural_search_spark import registry as R
    from neural_search_spark.session import get_spark

    sf = sys.argv[1]
    rows = lambda df: sorted(map(list, df.collect()))
    spark = get_spark("artifacts-restart-1", shuffle_partitions=2)
    R._lsh_pairs(spark, sf)
    before = rows(R.SPARK_QUERIES["dedup_minhash_lsh"](spark, sf))
    spark.stop()
    spark = get_spark("artifacts-restart-2", shuffle_partitions=2)
    after = rows(R.SPARK_QUERIES["dedup_minhash_lsh"](spark, sf))
    spark.stop()
    print(json.dumps({"before": before, "after": after}))
    """
)


def test_session_restart_rebuilds_session_bound_artifacts():
    """A new session against the same corpus must not be handed frames
    bound to the stopped context: dedup_minhash_lsh (q_dedup_minhash,
    over the `_lsh_pairs` artifact) returns the same rows after a
    restart. Runs in a child process so the shared test session stays
    up."""
    import json

    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, SF_SMOKE],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["before"], "the fixture has near-duplicate pairs"
    assert out["after"] == out["before"]


_CACHE_NAME = re.compile(r"^_\w*CACHE\w*$|^_\w*MEMO$")


def _module_assignments(body):
    """Assignments at module level, including inside module-level
    if/try/with blocks (never inside functions or classes)."""
    for node in body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            yield node
        elif isinstance(node, (ast.If, ast.Try, ast.With, ast.For)):
            for field in ("body", "orelse", "finalbody"):
                yield from _module_assignments(getattr(node, field, []))
            for h in getattr(node, "handlers", []):
                yield from _module_assignments(h.body)


def _is_dict(node) -> bool:
    value = node.value
    if isinstance(value, (ast.Dict, ast.DictComp)):
        return True
    if isinstance(value, ast.Call):
        fn = value.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
        if name in ("dict", "OrderedDict", "defaultdict"):
            return True
    ann = getattr(node, "annotation", None)
    return ann is not None and "dict" in ast.unparse(ann).lower()


def test_no_module_level_cache_outside_artifact_store():
    """Built artifacts are reused through artifacts.py only: a module-
    level dict named `_*CACHE*` or `_*MEMO` anywhere else in the package
    would be a second cache policy (path-keyed, never invalidated)."""
    pkg = os.path.dirname(neural_search_spark.__file__)
    found = []
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == os.path.join(pkg, "artifacts.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in _module_assignments(tree.body):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if (
                        isinstance(t, ast.Name)
                        and _CACHE_NAME.match(t.id)
                        and _is_dict(node)
                    ):
                        found.append(f"{os.path.relpath(path, pkg)}:{node.lineno} {t.id}")
    assert found == []
