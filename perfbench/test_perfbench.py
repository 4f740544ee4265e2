"""Self-tests of the benchmark (not of the program):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider \
        --basetemp=.perfbench_work/selftest

run from the repository root. The traced-build tests start a local Spark
session; the whole file takes about a minute.
"""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_web_corpus_is_deterministic_per_seed(tmp_path):
    spec = gen.CorpusSpec(300, 70, 90, n_files=3, clone_frac=0.1,
                          near_frac=0.1)
    a, b = gen.web_corpus(7, spec), gen.web_corpus(7, spec)
    assert a.texts == b.texts and a.kept_ids == b.kept_ids
    assert list(a.doc_ids) == list(b.doc_ids)
    assert gen.web_corpus(8, spec).texts != a.texts
    gen.write_corpus(a, str(tmp_path / "a"), 3)
    gen.write_corpus(b, str(tmp_path / "b"), 3)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 3
    _, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors


def test_planted_duplicates_and_truth():
    spec = gen.CorpusSpec(400, 70, 90, clone_frac=0.1, near_frac=0.1)
    c = gen.web_corpus(3, spec)
    assert len(set(c.doc_ids.tolist())) == 400
    assert len(c.kept_ids) == 400 - 40 - 40
    by_id = dict(zip(c.doc_ids.tolist(), c.texts))
    kept_texts = [by_id[i] for i in c.kept_ids]
    assert len(set(kept_texts)) == len(kept_texts)
    dropped = set(by_id) - c.kept_ids
    # every dropped doc is a clone or a >= 0.9 near-duplicate of a kept
    # doc with a smaller id
    kept_sh = {i: gen.shingles(by_id[i].split()) for i in c.kept_ids}
    for d in dropped:
        sh = gen.shingles(by_id[d].split())
        assert any(k < d and gen.jaccard(sh, ks) >= 0.9
                   for k, ks in kept_sh.items())


def test_faq_export_is_deterministic_per_seed():
    assert gen.faq_export(5) == gen.faq_export(5)
    assert gen.faq_export(5) != gen.faq_export(6)
    payload = gen.faq_export(5)
    assert len(payload["faqs"]) == 12 and payload["synonyms"]


def test_input_seeds_are_distinct_per_build():
    seeds = {run.input_seed(1, "kg_corpus", i) for i in range(100)}
    assert len(seeds) == 100
    assert run.input_seed(1, "kg_corpus", 0) != run.input_seed(
        1, "dedup_crawl", 0)


def test_rss_sampler_reports_the_median_build_peak():
    from ledger import MB, RssSampler

    with RssSampler() as rss:
        for _ in range(3):
            rss.mark()
    assert len(rss.build_peaks) == 3
    assert min(rss.build_peaks) / MB <= rss.peak_mb <= rss.peak / MB
    assert rss.peak_mb > 0 and rss.peak_parts_mb


def test_metric_names_are_valid_and_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.per_layer_units()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    from workloads import WORKLOADS

    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS


def _outputs(workload, out):
    """A build's output in comparable form."""
    import duckdb

    if workload.name == "dedup_crawl":
        return sorted(r[0] for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall())
    if workload.name == "faq_build":
        with open(os.path.join(out, "ao_output.json")) as f:
            export = json.load(f)
        return export, sorted(duckdb.sql(
            f"SELECT * FROM read_parquet('{out}/triples/*/*.parquet')"
        ).fetchall())
    return sorted(duckdb.sql(
        f"SELECT * FROM read_parquet('{out}/*/*.parquet')").fetchall())


def _tiny(workload):
    if hasattr(workload, "spec"):
        workload.spec = dataclasses.replace(
            workload.spec, n_docs=workload.spec.n_docs // 5)
    return workload


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ledger import stop_spark

    work = str(tmp_path_factory.mktemp("spark"))
    session = run.start_session(work, 2, None)
    yield session
    stop_spark(session)


@pytest.mark.parametrize("name", ["kg_corpus", "dedup_crawl", "faq_build"])
def test_traced_build_equals_entry_point_build(spark, tmp_path, name):
    from ledger import Tracer, cache_state
    from workloads import WORKLOADS

    w = _tiny(WORKLOADS[name](str(tmp_path / "cache")))
    # the same content under two paths, so neither build can reuse a
    # cache the other left behind
    inp_a = w.make_input(11, str(tmp_path / "in_a"))
    inp_b = w.make_input(11, str(tmp_path / "in_b"))
    before = cache_state(spark)[0]
    w.build(spark, inp_a, str(tmp_path / "out_a"))
    entry_residue = cache_state(spark)[0] - before
    tracer = Tracer(spark.sparkContext)
    w.traced_build(spark, tracer, inp_b, str(tmp_path / "out_b"))
    traced_residue = cache_state(spark)[0] - before - entry_residue
    assert _outputs(w, tmp_path / "out_a") == _outputs(w, tmp_path / "out_b")
    assert traced_residue == entry_residue
    w.check(inp_a, str(tmp_path / "out_a"))
    layers = [s.layer for s in tracer.spans]
    assert len(layers) == len(set(layers))
    units = run.per_layer_units()
    assert all(f"{layer}.wall_s" in units for layer in layers)
