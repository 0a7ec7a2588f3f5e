"""One cache mechanism: every cache in the package is a registered
``PlanMemo``, so ``clear_all_memos()`` reaches all of them — and a
table rewritten in place is read afresh after it.

The guard walks the package source: a module-level empty dict / list /
None (the shape of an ad-hoc cache) or a ``global`` rebinding fails it,
except the allow-listed code-derived constants below. The staleness
tests run on a private copy of the sf0.001 testdata: build, rewrite a
table, ``clear_all_memos()``, rebuild, and check the new data is used.
"""

from __future__ import annotations

import ast
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators import memo
from harness_aws_etl_pipeline_spark.operators.memo import clear_all_memos
from harness_aws_etl_pipeline_spark.plans import catalog
from tests.test_catalog import SF

PKG = Path(__file__).resolve().parent.parent / "harness_aws_etl_pipeline_spark"

#: module-level names that are lazily-built constants of the code, not
#: caches of data: (path relative to the package, name)
ALLOWED = {("operators/imagehash.py", "_DCT32")}  # the DCT-II matrix

_CONTAINERS = {"dict", "list", "set", "OrderedDict", "defaultdict"}


def _is_empty_cache(value: ast.expr) -> bool:
    if isinstance(value, ast.Constant):
        return value.value is None
    if isinstance(value, (ast.Dict, ast.List, ast.Set)):
        return not (value.keys if isinstance(value, ast.Dict) else value.elts)
    if isinstance(value, ast.Call):
        fn = value.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
        return name in _CONTAINERS and (name == "defaultdict" or not value.args)
    return False


def _offenders() -> list[str]:
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and (rel, t.id) not in ALLOWED
                    and _is_empty_cache(value)
                ):
                    found.append(f"{rel}:{node.lineno} {t.id} = {ast.unparse(value)}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Global):
                for name in node.names:
                    if (rel, name) not in ALLOWED:
                        found.append(f"{rel}:{node.lineno} global {name}")
    return found


class TestOneCacheMechanism:
    def test_no_module_level_ad_hoc_cache(self):
        offenders = _offenders()
        assert not offenders, (
            "module-level caches outside PlanMemo (clear_all_memos() "
            "cannot reach them):\n" + "\n".join(offenders)
        )

    def test_clear_all_memos_empties_every_registered_memo(self, spark):
        from harness_aws_etl_pipeline_spark.plans.catalog_tpch import (
            synth_partsupp,
        )

        assert catalog._TABLE_MEMO in memo._REGISTRY
        assert catalog._VALUE_MEMO in memo._REGISTRY
        catalog.load_table(spark, SF, "region")
        synth_partsupp(spark, SF)
        assert len(catalog._TABLE_MEMO) > 0 and len(catalog._VALUE_MEMO) > 0
        clear_all_memos()
        sizes = {repr(m): len(m) for m in list(memo._REGISTRY)}
        assert not any(sizes.values()), sizes


def test_get_or_key_holds_computes_once_and_clears():
    m = memo.PlanMemo(capacity=2)
    calls = []

    def compute():
        calls.append(1)
        return len(calls)

    assert m.get_or_key(("k", 1), compute) == 1
    assert m.get_or_key(("k", 1), compute) == 1  # hit: no recompute
    m.get_or_key("a", lambda: 0)
    m.get_or_key("b", lambda: 0)  # evicts the least recently used
    assert len(m) == 2
    assert m.get_or_key(("k", 1), compute) == 2
    clear_all_memos()
    assert len(m) == 0


@pytest.fixture
def sf_copy(tmp_path):
    for src in Path(SF).glob("*.parquet"):
        shutil.copyfile(src, tmp_path / src.name)  # writable copies
    yield str(tmp_path)
    clear_all_memos()  # drop every entry keyed on the temp dir


def _rewrite(sf_dir: str, name: str, table: pa.Table, **kw) -> None:
    pq.write_table(table, f"{sf_dir}/{name}.parquet", **kw)


class TestCatalogStaleness:
    def test_load_table_reads_rewritten_rows(self, spark, sf_copy):
        assert catalog.load_table(spark, sf_copy, "region").count() == 5
        region = pq.read_table(f"{sf_copy}/region.parquet")
        # 2000× the rows in 1000-row groups: a reader still holding the
        # old file listing plans one split over the old length and
        # drops the row groups past it
        _rewrite(sf_copy, "region", pa.concat_tables([region] * 2000),
                 row_group_size=1000)
        clear_all_memos()
        assert catalog.load_table(spark, sf_copy, "region").count() == 10000

    def test_synth_partsupp_uses_new_supplier_count(self, spark, sf_copy):
        from harness_aws_etl_pipeline_spark.plans.catalog_tpch import (
            synth_partsupp,
        )

        def max_suppkey():
            return synth_partsupp(spark, sf_copy).agg(
                F.max("ps_suppkey")
            ).first()[0]

        assert max_suppkey() >= 4  # 10 suppliers
        supplier = pq.read_table(f"{sf_copy}/supplier.parquet")
        _rewrite(sf_copy, "supplier", supplier.slice(0, 4))
        clear_all_memos()
        assert max_suppkey() == 3  # ps_suppkey mod 4

    def test_lang_id_picks_up_new_lang_value(self, spark, sf_copy):
        from harness_aws_etl_pipeline_spark.plans.catalog_ext import q_lang_id

        def onehot_cols_and_langs():
            rows = q_lang_id(spark, sf_copy).collect()
            return rows[0]["onehot_cols"], {r["lang"] for r in rows}

        assert onehot_cols_and_langs() == (5, {"de", "en", "es", "fr", "zh"})
        docs = pq.read_table(f"{sf_copy}/documents.parquet")
        i = docs.schema.get_field_index("lang")
        first = pc.equal(pa.array(range(docs.num_rows)), 0)
        docs = docs.set_column(
            i, "lang", pc.if_else(first, pa.scalar("xx"), docs["lang"])
        )
        _rewrite(sf_copy, "documents", docs)
        clear_all_memos()
        assert onehot_cols_and_langs() == (
            6, {"de", "en", "es", "fr", "zh", "xx"},
        )
