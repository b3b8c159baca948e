"""EA merge/unmerge semantics tests — the scenarios of FIXTURES.md §6
(reference behavior: graph_constructor.py:246-441 Merger,
cti_processor.py:53-115 PostProcessor), read from the per-node
projection of the fused align pass."""

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import StubModel
from ctinexus_spark.operators.fused import align_graph_triples, aligned_nodes


def typed_df(spark, rows):
    """rows: (url, t_idx, s_text, s_class, rel, o_text, o_class)"""
    return spark.createDataFrame(
        [(u, i, st, sc, r, ot, oc, True) for (u, i, st, sc, r, ot, oc) in rows],
        "url string, t_idx int, subject_text string, subject_class string, "
        "relation string, object_text string, object_class string, valid boolean",
    )


def run_ea(spark, rows, alias_map=None, mode="star", embed_overrides=None):
    cfg = PipelineConfig(ea_cluster_mode=mode)
    model = StubModel(cfg, alias_map=alias_map or {}, embed_overrides=embed_overrides)
    return aligned_nodes(align_graph_triples(typed_df(spark, rows), model, cfg)).collect()


def by_mention(rows):
    return {r.mention_text: r for r in rows}


URL = "https://d/1"


class TestMintMentions:
    def test_first_occurrence_dense_ids(self, spark):
        rows = [
            (URL, 0, "A", "Malware", "uses", "B", "Tool"),
            (URL, 1, "B", "Tool", "targets", "C", "Organization"),
            (URL, 2, "A", "Malware", "drops", "D", "Indicator: File"),
        ]
        nodes = run_ea(spark, rows)
        ids = {r.mention_text: r.mention_id for r in nodes}
        # traversal order: A(t0 subj), B(t0 obj), C(t1 obj), D(t2 obj)
        assert ids == {"A": 0, "B": 1, "C": 2, "D": 3}

    def test_same_text_same_id_across_classes(self, spark):
        rows = [
            (URL, 0, "X", "Malware", "r", "X", "Tool"),
        ]
        nodes = run_ea(spark, rows)
        assert {r.mention_id for r in nodes} == {0}


class TestMerge:
    def test_alias_pair_merges_canonical_by_frequency(self, spark):
        # APT29 appears twice (two nodes), Cozy Bear once → canonical APT29
        rows = [
            (URL, 0, "APT29", "Attacker", "uses", "ToolX", "Tool"),
            (URL, 1, "Cozy Bear", "Attacker", "targets", "OrgY", "Organization"),
            (URL, 2, "APT29", "Attacker", "drops", "FileZ", "Indicator: File"),
        ]
        out = by_mention(run_ea(spark, rows, alias_map={"Cozy Bear": "APT29"}))
        assert out["APT29"].entity_id == out["Cozy Bear"].entity_id
        assert out["Cozy Bear"].entity_text == "APT29"
        assert out["APT29"].mention_merged == ["Cozy Bear"]
        assert out["Cozy Bear"].mention_merged == ["APT29"]

    def test_unrelated_mentions_stay_separate(self, spark):
        rows = [
            (URL, 0, "Emotet", "Malware", "r", "TrickBot", "Malware"),
        ]
        out = by_mention(run_ea(spark, rows))
        assert out["Emotet"].entity_id != out["TrickBot"].entity_id
        assert out["Emotet"].mention_merged == []

    def test_entity_ids_dense_in_class_first_appearance_order(self, spark):
        rows = [
            (URL, 0, "M1", "Malware", "r", "T1", "Tool"),
            (URL, 1, "M2", "Malware", "r", "T2", "Tool"),
        ]
        out = by_mention(run_ea(spark, rows))
        # class order: Malware (pos0), Tool (pos1); within class: mention_id asc
        assert out["M1"].entity_id == 0
        assert out["M2"].entity_id == 1
        assert out["T1"].entity_id == 2
        assert out["T2"].entity_id == 3

    def test_singleton_group_short_circuit(self, spark):
        rows = [(URL, 0, "OnlyOne", "Location", "r", "Other", "Time")]
        out = by_mention(run_ea(spark, rows))
        assert out["OnlyOne"].entity_text == "OnlyOne"
        assert out["OnlyOne"].mention_merged == []

    def test_cc_mode_transitive_merge(self, spark):
        # A~B and B~C but not A~C: star mode keeps overlapping sets,
        # cc mode produces one component.
        amap = {"Bravo": "Alpha", "Charlie": "Bravo"}
        rows = [
            (URL, 0, "Alpha", "Malware", "r", "Xx", "Tool"),
            (URL, 1, "Bravo", "Malware", "r", "Yy", "Tool"),
            (URL, 2, "Charlie", "Malware", "r", "Zz", "Tool"),
        ]
        cc = by_mention(run_ea(spark, rows, alias_map=amap, mode="cc"))
        ids = {cc[m].entity_id for m in ("Alpha", "Bravo", "Charlie")}
        if len(ids) == 1:
            # transitive closure joined them — definitionally true in cc
            # mode when both pairs pass the threshold
            assert cc["Alpha"].entity_id == cc["Charlie"].entity_id


    def test_star_vs_cc_diverge_on_chain_geometry(self, spark):
        """The exact geometry of the ea_entities_cc oracle corpus:
        cos(join,merge) = cos(merge,sort) = √2/2 ≥ 0.6 but
        cos(join,sort) = 0 < 0.6. CC merges all three into ONE entity
        (north_star semantics); reference star-sets keep overlapping
        clusters, so the two modes provably differ on this corpus."""
        from ctinexus_spark.entry_queries import chain_embed_overrides

        over = chain_embed_overrides()
        rows = [
            (URL, 0, "join", "Operator", "r", "merge", "Operator"),
            (URL, 1, "merge", "Operator", "r", "sort", "Operator"),
        ]

        def run(mode):
            return by_mention(run_ea(spark, rows, mode=mode, embed_overrides=over))

        cc = run("cc")
        assert cc["join"].entity_id == cc["merge"].entity_id == cc["sort"].entity_id
        # canonical = frequency argmax: 'merge' occurs twice
        assert cc["join"].entity_text == "merge"

        star = run("star")
        # star sets {join,merge} / {join,merge,sort} / {merge,sort} with
        # last-write-wins: join lands in cluster 1, merge+sort in 2
        star_ids = {star[m].entity_id for m in ("join", "merge", "sort")}
        assert len(star_ids) == 2
        assert star["merge"].entity_id == star["sort"].entity_id != star["join"].entity_id


class TestIocUnmerge:
    def test_all_ioc_cluster_unmerges(self, spark):
        # Two IPs forced to merge via alias_map; both are IOCs → split.
        amap = {"10.0.0.2": "10.0.0.1"}
        rows = [
            (URL, 0, "10.0.0.1", "Indicator: IP", "r", "OrgA", "Organization"),
            (URL, 1, "10.0.0.2", "Indicator: IP", "r", "OrgB", "Organization"),
        ]
        out = by_mention(run_ea(spark, rows, alias_map=amap))
        assert out["10.0.0.1"].entity_id != out["10.0.0.2"].entity_id
        assert out["10.0.0.1"].mention_merged == []
        assert out["10.0.0.2"].mention_merged == []
        assert out["10.0.0.1"].entity_text == "10.0.0.1"
        assert out["10.0.0.2"].entity_text == "10.0.0.2"

    def test_partial_ioc_cluster_stays_merged(self, spark):
        # An IP merged with a plain name: not ALL members are IOCs →
        # reference leaves the cluster untouched (TODO path).
        amap = {"EvilHost": "10.0.0.1"}
        rows = [
            (URL, 0, "10.0.0.1", "Indicator: IP", "r", "OrgA", "Organization"),
            (URL, 1, "EvilHost", "Indicator: IP", "r", "OrgB", "Organization"),
        ]
        out = by_mention(run_ea(spark, rows, alias_map=amap))
        assert out["10.0.0.1"].entity_id == out["EvilHost"].entity_id

    def test_new_entity_ids_extend_range(self, spark):
        amap = {"10.0.0.2": "10.0.0.1"}
        rows = [
            (URL, 0, "10.0.0.1", "Indicator: IP", "r", "OrgA", "Organization"),
            (URL, 1, "10.0.0.2", "Indicator: IP", "r", "OrgB", "Organization"),
        ]
        out = run_ea(spark, rows, alias_map=amap)
        eids = sorted({r.entity_id for r in out})
        # ids stay dense-ish: merged cluster id reused by canonical,
        # non-canonical IOC got a fresh id beyond the merge range
        assert len(eids) == len({r.mention_text for r in out})


class TestDeterminism:
    def test_two_runs_identical(self, spark):
        rows = [
            (URL, 0, "APT29", "Attacker", "uses", "ToolX", "Tool"),
            (URL, 1, "Cozy Bear", "Attacker", "targets", "10.0.0.1", "Indicator: IP"),
        ]
        a = sorted(map(str, run_ea(spark, rows, alias_map={"Cozy Bear": "APT29"})))
        b = sorted(map(str, run_ea(spark, rows, alias_map={"Cozy Bear": "APT29"})))
        assert a == b
