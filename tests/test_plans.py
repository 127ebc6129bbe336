"""Physical-plan quality gates — lock in the optimizations the engine relies
on (SURVEY.md §4): broadcast semi-joins, map-side partial aggregation,
parquet filter pushdown + column pruning. A regression here silently turns
a 100 TB job from hours into days, so it's tested like correctness."""

import re
from contextlib import contextmanager

import pyspark.sql.functions as F

from kgx_spark import fixtures as FX
from kgx_spark.operators.filters import apply_edge_filters
from kgx_spark.operators.merge import merge_edges

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="simple"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_category_semijoin_broadcasts(spark):
    nodes = FX.nodes_a(spark, SF).unionByName(FX.supplier_nodes(spark, SF), allowMissingColumns=True)
    out = apply_edge_filters(
        FX.edges(spark, SF),
        {"subject_category": {"biolink:Gene"}, "object_category": {"biolink:ChemicalEntity"}},
        nodes=nodes,
    )
    p = plan_of(out)
    assert p.count("LeftSemi") == 2
    assert "BroadcastHashJoin" in p  # the passing-node id set broadcasts


def test_merge_partial_aggregation(spark):
    p = plan_of(merge_edges([FX.edges(spark, SF)]))
    # ONE exchange on the grouping key, with map-side partial aggregation
    assert "partial_" in p
    assert p.count("Exchange hashpartitioning(subject") == 1


def test_parquet_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_partkey") == 42).select("l_partkey", "l_suppkey")
    p = plan_of(q, "formatted")
    assert "PushedFilters: [IsNotNull(l_partkey), EqualTo(l_partkey,42)]" in p
    # column pruning: scan reads exactly the two projected columns
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>" in p


def test_entity_link_dictionary_broadcasts(spark):
    from kgx_spark.pipeline.extract import extract_text
    from kgx_spark.pipeline.link import detect_mentions, link_mentions
    from kgx_spark.pipeline.synth import synth_alias_dict, synth_pages

    raw_pages = synth_pages(spark, SF)
    pages = extract_text(raw_pages)
    linked = link_mentions(detect_mentions(pages), synth_alias_dict(spark, SF), n_pages=raw_pages.count())
    assert "BroadcastHashJoin" in plan_of(linked)


def _hinted(df):
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def _same_as_chain(spark, n=4000):
    nodes = spark.range(0, n).select(
        F.concat(F.lit("N:"), "id").alias("id"),
        F.array(F.lit("biolink:NamedThing")).alias("category"),
    )
    edges = spark.range(0, n - 1).select(
        F.concat(F.lit("N:"), "id").alias("subject"),
        F.lit("biolink:same_as").alias("predicate"),
        F.concat(F.lit("N:"), (F.col("id") + 1) % 2000).alias("object"),
    )
    return nodes, edges


@contextmanager
def _broadcast_threshold(spark, value):
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, value)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_conditional_broadcast_small_vs_large(spark):
    """remap_node_identifier joins its old→new map unhinted: the planner
    broadcasts a small map from size statistics and sort-merge joins it once
    the thresholds are below its size."""
    from kgx_spark.operators.graph_ops import remap_node_identifier

    nodes, edges = _same_as_chain(spark)
    nodes = nodes.withColumn("alt", F.concat(F.lit("M:"), "id"))
    _, remapped = remap_node_identifier(nodes, edges, "biolink:NamedThing", "alt")
    assert not _hinted(remapped)
    assert "BroadcastHashJoin" in plan_of(remapped)
    with _broadcast_threshold(spark, "1k"):
        _, remapped_low = remap_node_identifier(nodes, edges, "biolink:NamedThing", "alt")
        p = plan_of(remapped_low)
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p


def test_clique_mapping_not_force_broadcast_when_large(spark):
    """clique_merge's member→leader map can be node-scale, so neither the
    edge re-pointing nor the member fold of the canonical nodes hints it: a
    small map plans as a broadcast at the session threshold and as a
    sort-merge join once the thresholds are below its size."""
    from kgx_spark.operators.clique import clique_merge

    nodes, edges = _same_as_chain(spark)
    n_out, e, _ = clique_merge(nodes, edges, dedupe_edges=False)
    assert not _hinted(e) and not _hinted(n_out)
    assert "BroadcastHashJoin" in plan_of(e)
    with _broadcast_threshold(spark, "1k"):
        _, e_low, _ = clique_merge(nodes, edges, dedupe_edges=False)
        p = plan_of(e_low)
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p


def _final_plan(df):
    """The executed adaptive plan of ``df`` (run it first), without the
    initial plan AQE prints after it."""
    return plan_of(df).split("+- == Initial Plan ==")[0]


def test_remap_scans_its_nodes_once(spark, tmp_path):
    """remap_node_identifier's two endpoint joins read one broadcast of the
    old→new map: the executed plan scans the node file once, and the object
    join reads the subject join's exchange."""
    from kgx_spark.operators.graph_ops import remap_node_identifier

    nodes, edges = _same_as_chain(spark, 400)
    path = str(tmp_path / "nodes")
    nodes.withColumn("alt", F.concat(F.lit("M:"), "id")).write.parquet(path)
    _, remapped = remap_node_identifier(spark.read.parquet(path), edges, "biolink:NamedThing", "alt")
    remapped.collect()
    final = _final_plan(remapped)
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final


def test_clique_nodes_read_the_checkpointed_election(spark):
    """clique_merge elects leaders once: the canonical nodes read the
    election from the checkpoint the edges read, so their executed plan
    runs no window; with update_categories the only window left is
    clique_category's."""
    from kgx_spark.operators.clique import clique_merge

    nodes, edges = _same_as_chain(spark, 400)
    for update_categories, windows in ((False, 0), (True, 1)):
        n_out, _, _ = clique_merge(nodes, edges, dedupe_edges=False, update_categories=update_categories)
        n_out.collect()
        assert len(re.findall(r"\bWindow \[", _final_plan(n_out))) == windows


def test_meta_kg_catalog_not_broadcast_hinted(spark):
    """meta_edge_stats / count_by_spo_category join a node-scale catalog —
    the static plan must carry NO forced broadcast of it."""
    from kgx_spark.operators.meta_kg import meta_edge_stats
    from kgx_spark.operators.summary import count_by_spo_category

    nodes = FX.nodes_a(spark, SF).unionByName(FX.supplier_nodes(spark, SF), allowMissingColumns=True)
    edges = FX.edges(spark, SF)
    for out in (meta_edge_stats(edges, nodes), count_by_spo_category(edges, nodes)):
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed and "BROADCAST" not in analyzed


def test_whole_stage_codegen_covers_hot_path(spark):
    # the triple-extraction projection must live inside WholeStageCodegen
    from kgx_spark.pipeline.triples import extract_triples

    pages = spark.createDataFrame(
        [("u1", "A:1 is related to B:2.")], "url string, extracted_text string"
    )
    p = plan_of(extract_triples(pages), "formatted")
    assert "codegen id" in p  # Generate + Project fused into WholeStageCodegen
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p  # no Python in this path


def test_mention_detection_has_no_shuffle(spark):
    """detect_mentions must stay a narrow map over the page scan: n-grams
    are built inside the token array, never via a windowed token shuffle
    (at corpus scale that shuffle would dominate the linking stage)."""
    from kgx_spark.pipeline.link import detect_mentions

    pages = spark.createDataFrame(
        [("u1", "alpha beta gamma")], "url string, extracted_text string"
    )
    p = plan_of(detect_mentions(pages))
    assert "Exchange" not in p and "Window" not in p
    # the first-token-pruned variant must stay equally narrow (the InSet
    # membership probe is a scalar expression, not a join)
    p2 = plan_of(detect_mentions(pages, first_tokens=["alpha", "beta"]))
    assert "Exchange" not in p2 and "Window" not in p2 and "Join" not in p2
    # ...and ONE pass: all n-gram lengths explode from one concatenated
    # array (round 7 — the per-length union re-ran the whole upstream
    # lineage per length, tripling the Arrow-batched extraction)
    for plan in (p, p2):
        tree = plan.split("\n\n")[0]
        assert tree.count("Generate") == 1, tree
        assert "Union" not in tree, tree


def optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_mention_detection_has_no_lambdas(spark):
    """Higher-order-function lambdas (transform/filter/exists) run
    interpreted, element by element, outside whole-stage codegen; the
    n-gram row path must build without any, pruned or not."""
    from kgx_spark.pipeline.link import detect_mentions

    pages = spark.createDataFrame(
        [("u1", "alpha beta gamma")], "url string, extracted_text string"
    )
    for mentions in (detect_mentions(pages), detect_mentions(pages, first_tokens=["alpha", "beta"])):
        p = optimized_plan(mentions)
        assert "lambdafunction" not in p, p


def test_nodes_stage_merges_provenance_only(spark):
    """Every crawl node is a NamedThing, set by validate_nodes after the
    merge: the nodes stage collects provided_by and no constant category
    array per exploded endpoint row."""
    from kgx_spark.pipeline.kg_pipeline import build_stages

    (nodes_stage,) = [st for st in build_stages(SF, link_entities=True) if st.name == "nodes"]
    edges = spark.createDataFrame(
        [("A:1", "biolink:treats", "B:1", ["u1"], "e1")],
        "subject string, predicate string, object string, provided_by array<string>, id string",
    )
    nodes = nodes_stage.fn(spark, {"edges": edges})
    p = optimized_plan(nodes)
    assert p.count("collect_list(") == 1, p
    assert "collect_list(provided_by" in p, p
    assert sorted(map(tuple, nodes.collect())) == [
        ("A:1", ["u1"], ["biolink:NamedThing"]),
        ("B:1", ["u1"], ["biolink:NamedThing"]),
    ]


def test_first_token_prune_guard_plan_form(spark):
    """A dictionary whose first-token set exceeds the InSet threshold must
    prune via a broadcast LEFT SEMI join, never a giant in-plan membership
    literal (round-5 VERDICT #4: a 10M-alias dictionary would otherwise
    push ~10^5-10^6 strings into every task binary and the driver)."""
    from kgx_spark.pipeline.link import detect_mentions, first_token_prune

    pages = spark.createDataFrame(
        [("u1", "tok00001 beta tok00500")], "url string, extracted_text string"
    )
    big_dict = spark.range(2000).select(
        F.concat(F.lit("tok"), F.lpad(F.col("id").cast("string"), 5, "0")).alias("alias"),
        F.concat(F.lit("X:"), "id").alias("curie"),
    )
    kw = first_token_prune(big_dict, max_inset=100)
    assert list(kw) == ["first_token_df"]
    mentions = detect_mentions(pages, **kw)
    p = plan_of(mentions)
    # the prune is a broadcast semi-join on the first token...
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    # ...and no thousand-entry membership literal leaked into the plan
    assert "tok01999" not in p
    # the guarded path still prunes correctly
    got = {r["mention"] for r in mentions.where(F.col("ngram_len") == 1).collect()}
    assert got == {"tok00001", "tok00500"}


def test_stream_merge_reads_snapshot_through_broadcast_joins(spark, tmp_path):
    """The stream's per-batch merge splits the snapshot by the batch's keys
    with two broadcast joins; a shuffle join here would move the whole
    snapshot for every drop."""
    from kgx_spark.streaming.kg_stream import _merge_into

    schema = "subject string, predicate string, object string, provided_by array<string>"
    path = str(tmp_path / "snapshot")
    spark.createDataFrame([("A:1", "biolink:treats", "B:1", ["u1"])], schema).write.parquet(path)
    batch = spark.createDataFrame([("A:2", "biolink:treats", "B:1", ["u2"])], schema)
    joins = [line for line in plan_of(_merge_into(spark.read.parquet(path), batch)).splitlines() if "Join" in line]
    assert sum("BroadcastHashJoin" in j and "LeftAnti" in j for j in joins) == 1, joins
    assert sum("BroadcastHashJoin" in j and "LeftSemi" in j for j in joins) == 1, joins
    assert not any("SortMergeJoin" in j for j in joins), joins


def test_stream_merges_plan_the_callers_shuffle_partitions(spark, tmp_path):
    """The micro-batch lives on the stream's one-partition session, yet the
    first drop's merge (into an empty snapshot) and a warm drop's merge both
    plan their exchange on the caller's session."""
    from kgx_spark.streaming.kg_stream import _merge_into, _read_snapshot, _stream_session

    n_parts = spark.conf.get("spark.sql.shuffle.partitions")
    stream = _stream_session(spark)
    assert stream.conf.get("spark.sql.shuffle.partitions") == "1" != n_parts
    schema = "subject string, predicate string, object string, provided_by array<string>"
    batch = stream.createDataFrame([("A:2", "biolink:treats", "B:1", ["u2"])], schema).localCheckpoint()
    path = str(tmp_path / "snapshot")
    first = _merge_into(_read_snapshot(spark, path, batch.schema), batch)
    spark.createDataFrame([("A:1", "biolink:treats", "B:1", ["u1"])], schema).write.parquet(path)
    warm = _merge_into(_read_snapshot(spark, path, batch.schema), batch)
    exchange = r"Exchange hashpartitioning\(subject#\d+, predicate#\d+, object#\d+, (\d+)\)"
    for merged in (first, warm):
        assert re.findall(exchange, plan_of(merged)) == [n_parts]


# the physical nodes that hand rows to a Python worker
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def test_no_python_worker_on_the_crawl_build_or_the_stream(spark, tmp_path, monkeypatch):
    """Extraction is Spark's own expressions: no plan of the seven crawl
    build stages, nor the stream's micro-batch, runs rows through Python."""
    from kgx_spark.pipeline.kg_pipeline import build_stages
    from kgx_spark.pipeline.stages import Stage, run_stages
    from kgx_spark.pipeline.synth import synth_pages
    from kgx_spark.streaming import kg_stream

    plans = {}

    def planned(st):
        def fn(spark_, ctx):
            df = st.fn(spark_, ctx)
            plans[st.name] = plan_of(df)
            return df
        return Stage(st.name, fn)

    run_stages(spark, str(tmp_path / "w"), [planned(st) for st in build_stages(SF)], force=True)
    assert len(plans) == 7

    # while a drop merges, its query's last execution is the drop's batch
    swap = kg_stream._swap_snapshot

    def recorded(df, path):
        (query,) = kg_stream._stream_session(spark).streams.active
        plans["stream"] = query._jsq.explainInternal(False)
        return swap(df, path)

    landing = str(tmp_path / "landing")
    synth_pages(spark, SF).select("url", "warc_ts", "html").write.parquet(landing)
    monkeypatch.setattr(kg_stream, "_swap_snapshot", recorded)
    kg_stream.stream_kg_update(spark, landing, str(tmp_path / "edges"), str(tmp_path / "ckpt"))
    assert "extracted_text" in plans["stream"]
    for name, p in plans.items():
        assert not [n for n in _PYTHON_NODES if n in p], name
