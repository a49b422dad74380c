"""End-to-end entity-resolution pipeline (SURVEY §3 Spark lifecycle).

    transcripts --canonical text--> mentions --normalize--> oids
        --block--> candidate pairs --score--> edges
        --(∪ same-oid edges ∪ id_merge edges)--> connected components
        --> cluster labels joined back to mentions

The reference's lifecycle (server.py do_GET steps 1-5) maps stage-for-stage;
every thread/process boundary is now a stage/shuffle boundary (SURVEY §3
tail). Outputs:

- ``mentions``: one row per surviving mention with norm_ids + cluster_id,
  ordered by (conv_id, turn_idx, start) — W11 output ordering;
- per-turn text invariance: the pipeline never rewrites ``text`` after the
  canonical projection (convert.py:483-496 analog).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bern_spark.operators.blocking import candidate_pairs, with_block_keys
from bern_spark.operators.cc import connected_components, lazy_cut
from bern_spark.operators.extract import extract_mentions
from bern_spark.operators.normalize import CUI_LESS, attach_metadata, normalize_all
from bern_spark.operators.scoring import score_pairs

# Bump when stage semantics change: part of the lineage fingerprint, so a
# resumed store never replays stage parquet written by incompatible code
# (the reference's hash-named temp files, server.py:384-396, made explicit).
PIPELINE_VERSION = "9"  # bumped when stage OUTPUTS change, not just tokens
# (v9: pairs_scored keeps each pair's min block_key, and CC's edge sets
# are positional stage_NN stages instead of cc_init / cc_iter_NNN.
# v8: candidate_pairs' cross-family dedup sees its rows in another order,
# so the block_key kept per pair in pairs_scored can differ from v7's.
# v6: the blocking-stage MinHash seed capture fix — operators/blocking.py
# _perm_min — changed LSH candidate sets; a v5 store must not resume with
# pre-fix stage parquet. v5: plan tokens render via non-verbose treeString.)


def _plan_token(df: DataFrame) -> str:
    """Process-stable hash of the canonicalized logical plan. NOT
    ``df.semanticHash()``: that is the JVM hashCode of the canonicalized
    plan and differs between driver processes for the identical read
    (verified: two processes, same parquet read, hashes -544669217 vs
    -48765258), which would defeat cross-restart resume. The
    canonicalized plan's *string* rendering (exprIds normalized to
    positions) is identical across processes for the same plan shape.

    Rendered with an explicit large ``maxFields``: the default rendering
    elides wide attribute lists past ``spark.sql.debug.maxToStringFields``
    (25) as '... N more fields', under which two plans differing only
    past the cutoff would collide — a false fingerprint MATCH, i.e. a
    stale-stage read. The explicit-arg form also avoids mutating session
    conf around the call (a second thread rendering concurrently would
    race a set/unset back to the truncated form)."""
    import hashlib

    # treeString(verbose, addSuffix, maxFields, printOperatorId,
    # printOutputColumns) — the Spark 4.x TreeNode signature
    s = df._jdf.queryExecution().analyzed().canonicalized().treeString(
        False, False, 100_000, False, False
    )
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def _catalog_leaf_tokens(df: DataFrame) -> list[str] | None:
    """O(1) identity tokens when EVERY leaf of the plan is a catalog
    table — the Iceberg-snapshot upgrade path the file walk documents:

    - **versioned V2 tables** (Iceberg, Delta): the table's reported
      snapshot/version IS the data identity — one metadata read, no file
      listing, exact invalidation on any commit. Iceberg surfaces it as
      the ``current-snapshot-id`` table property; Delta/others via a
      ``version()`` accessor. Probed by duck-typing through py4j so no
      connector needs to be installed to run this code.
    - **V1 catalog tables** (Hive/Derby metastore parquet), unpartitioned
      with a locally statable location: table identifier + the location
      directory's (size, mtime_ns) + a digest of every direct child's
      (name, size, mtime_ns) from one os.scandir — O(direct children)
      driver work, catching in-place rewrites the root stat alone would
      miss. Partitioned or remote-location tables return None
      (writes land in partition subdirs the root scan can't see) and the
      caller falls back to the file walk.

    Returns one token per leaf, or None if ANY leaf is not identifiable
    this way (then the ``inputFiles`` walk below is the safe identity).
    A false None merely costs the listing; a wrong token would risk a
    stale-stage read, so every branch that cannot PROVE identity falls
    back."""
    import hashlib
    import os

    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        n = leaves.size()
    except Exception:
        return None
    toks: list[str] = []
    for i in range(n):
        leaf = leaves.apply(i)
        cls = leaf.getClass().getSimpleName()
        tok = None
        try:
            if cls in ("DataSourceV2Relation", "DataSourceV2ScanRelation"):
                table = leaf.table()
                name = table.name()
                try:
                    props = table.properties()
                    snap = props.get("current-snapshot-id")  # Iceberg
                except Exception:
                    snap = None
                if snap is not None:
                    tok = f"table:{name}:snap:{snap}"
                else:
                    try:
                        # version() is only PROOF of data identity on
                        # connectors whose versions advance per commit;
                        # gate on the Delta table class rather than
                        # duck-typing — an unrelated version() method
                        # (e.g. a protocol constant) would yield a stable
                        # token across data changes and a stale resume
                        impl = table.getClass().getName().lower()
                        if "delta" in impl:
                            tok = f"table:{name}:v:{table.version()}"
                        else:
                            tok = None
                    except Exception:
                        tok = None
            elif cls == "LogicalRelation" and leaf.catalogTable().isDefined():
                ct = leaf.catalogTable().get()
                if ct.partitionColumnNames().isEmpty():
                    loc = ct.location().toString()
                    p = (
                        loc[7:]
                        if loc.startswith("file://")
                        else loc[5:]
                        if loc.startswith("file:")
                        else loc
                    )
                    st = os.stat(p)  # raises on remote/missing -> fallback
                    # the root dir's (size, mtime_ns) moves on file
                    # create/delete/rename but NOT on an in-place rewrite
                    # of an existing data file (same name, e.g. by a
                    # non-Spark writer) — fold a digest of every child's
                    # (name, size, mtime_ns) from one os.scandir so ANY
                    # child change invalidates, including a rewrite with
                    # a BACKDATED mtime that a max-mtime fold would miss
                    # (restore tools preserve timestamps). Still
                    # O(direct children), no recursion (unpartitioned
                    # tables keep data files directly under the root).
                    h = hashlib.sha256()
                    with os.scandir(p) as it:
                        for e in sorted(it, key=lambda e: e.name):
                            est = e.stat()
                            h.update(
                                f"{e.name}:{est.st_size}:{est.st_mtime_ns};".encode()
                            )
                    tok = (
                        f"table:{ct.identifier().toString()}:"
                        f"dir:{st.st_size}:{st.st_mtime_ns}:{h.hexdigest()[:16]}"
                    )
        except Exception:
            tok = None
        if tok is None:
            return None
        toks.append(tok)
    return toks if toks else None


def _input_token(df: DataFrame | None, files: list[str] | None = None) -> str:
    """Cheap identity token for a pipeline input, combining BOTH signals:

    - the **file snapshot** when the input is file-backed (captures data
      appends/replacements — and, for locally statable files, in-place
      rewrites via size + nanosecond mtime), streamed through a running
      sha256 so driver memory stays O(1) even at millions of files
      (100 TB listings never build one giant string);
    - the **canonicalized-plan string hash** (:func:`_plan_token`) —
      files alone miss a changed filter/projection over the same parquet
      (e.g. narrowing the lexicon relation), which must invalidate too.
      The string form is stable across driver processes, so a restarted
      job with the unchanged plan resumes (semanticHash would not be).

    Purely in-memory inputs (no files) fall back to ``semanticHash``,
    which covers the embedded data: such inputs live only inside one
    process, so cross-process stability is moot there.

    Driver-side metadata only — no Spark job. A false mismatch merely
    recomputes; a false match would read stale parquet, so both signals
    are combined. Catalog-table inputs short-circuit through
    :func:`_catalog_leaf_tokens` (Iceberg snapshot id / table version /
    unpartitioned-location stat) — O(1) per table instead of the
    O(files) listing; object-store URIs that can't be stat'd contribute
    names only.

    ``files``: a sorted listing the caller already paid for (e.g. the
    bucketed-extract routing gate) — reused for the walk so a flagship
    run lists once; the catalog short-circuit still wins when present."""
    import hashlib
    import os

    if df is None:
        return "none"
    cat = _catalog_leaf_tokens(df)
    if cat is not None:
        return f"cat:{';'.join(cat)}:plan:{_plan_token(df)}"
    h = hashlib.sha256()
    n = 0
    for f in files if files is not None else sorted(df.inputFiles()):
        p = f[7:] if f.startswith("file://") else f[5:] if f.startswith("file:") else f
        try:
            st = os.stat(p)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{f}\n".encode())
        n += 1
    if n == 0:
        return f"plan:{df.semanticHash()}"
    return f"files:{n}:{h.hexdigest()}:plan:{_plan_token(df)}"


def pipeline_fingerprint(
    transcripts: DataFrame,
    lexicon: DataFrame,
    dicts: dict[str, DataFrame],
    id_merge: DataFrame | None,
    cfg: "ERConfig",
    mirna_dict: DataFrame | None = None,
    pathway_names: list[str] | None = None,
    transcript_files: list[str] | None = None,
) -> str:
    import hashlib

    toks = [
        PIPELINE_VERSION,
        repr(cfg),
        _input_token(transcripts, files=transcript_files),
        _input_token(lexicon),
    ]
    toks += [f"{k}={_input_token(dicts[k])}" for k in sorted(dicts)]
    toks.append(_input_token(id_merge))
    toks.append(_input_token(mirna_dict))
    toks.append(",".join(pathway_names or []))
    return hashlib.sha256("|".join(toks).encode()).hexdigest()


def _bare_file_scan(df: DataFrame) -> list[str] | None:
    """The sorted input-file list iff ``df`` is exactly a file-backed
    leaf scan — no filters or projections on top (they would be silently
    dropped by a file-level re-read), and no partition-derived columns
    (re-reading leaf files with an explicit schema cannot reconstruct
    directory-encoded values) — else None. Routing gate for
    ``run_file_bucketed_stage``; any doubt returns None (the
    hash-bucketed path is always correct). Returning the listing lets
    the caller share it across ALL its consumers — the pipeline
    fingerprint's file walk, this routing gate, and the bucketed stage —
    so a flagship run pays ONE driver-side file listing total; on a
    million-file input the listing is the dominant driver cost of this
    route."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.children().isEmpty():
            return None
        files = sorted(df.inputFiles())
        if not files:
            return None
        sample = df.sparkSession.read.parquet(files[0])
        return files if sample.columns == df.columns else None
    except Exception:
        return None


@dataclass
class ERConfig:
    score_threshold: float = 0.85
    max_block_size: int = 200
    use_lsh: bool = True
    max_cc_iter: int = 25
    # Blend embedding-cosine into the pairwise score (north-star scorer
    # set: JW / Levenshtein / embedding-cosine) with weight
    # scoring.COSINE_WEIGHT. Default embeddings are the hashed-trigram
    # vectors (scoring.hashed_surface_embeddings); computed once per
    # distinct surface, so vocabulary-bounded.
    use_embedding_cosine: bool = False
    # Bucketed EXTRACT stage (lineage store only): >0 routes stage_01
    # through a resumable bucketed stage run as 4 sub-jobs — a preemption
    # mid-extract resumes at the last completed sub-job instead of
    # restarting the stage. Extract is the one stage long enough to care
    # (89% of the 4-core wall at 300M turns, BENCH.md r4); the other
    # stages stay whole-stage run_stage. Bare-file-scan inputs take the
    # file-bucketed route (sub-jobs read only their buckets' files — one
    # total input pass; measured +0.6% total / ~+4% stage overhead at
    # 8 buckets on the 30M bench, BENCH.md r5); other inputs take the
    # hash-bucketed route (correct everywhere, but rescans per sub-job:
    # +15.7% total at 16 buckets). 0 = whole-stage extract (default).
    # Recommended at scale: 8. Without a store the stage cuts are lazy
    # localCheckpoints and this field is ignored.
    extract_buckets: int = 0


def resolve_entities(
    transcripts: DataFrame,
    lexicon: DataFrame,
    dicts: dict[str, DataFrame],
    id_merge: DataFrame | None = None,
    config: ERConfig | None = None,
    mirna_dict: DataFrame | None = None,
    pathway_names: list[str] | None = None,
    lineage_store=None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns dict of result DataFrames.

    ``dicts`` must hold dict_{gene,disease,drug,species,mutation},
    dict_gene_{oldbest,freq}, meta_{gene,disease,drug}. Optional
    ``mirna_dict``/``pathway_names`` enable the U4 regex taggers (applied
    after W9 overlap resolution, like the reference's inline tagging at
    normalize.py:221-231).

    ``lineage_store`` (a ``bern_spark.lineage.LineageStore``) swaps the
    in-memory stage cuts for durable parquet stage tables with manifests:
    a restarted job resumes from the last completed stage (north-rule
    resumability). Without it, stages cut lineage via ``cc.lazy_cut``.
    The cut policy is chosen once, here at entry, and every stage cut of
    the run — connected components' included — goes through it.
    """
    cfg = config or ERConfig()
    if lineage_store is None:
        # lazy: materialization rides the first downstream action, and
        # nothing here unpersists a cut, so its blocks stay reachable
        cut = lazy_cut
    else:
        spark = transcripts.sparkSession
        stage_names = (f"stage_{i:02d}" for i in itertools.count(1))
        # one fingerprint for the whole run: any config/input/code drift
        # invalidates every stage (positional stage names make per-stage
        # fingerprints meaningless — an upstream change shifts them all).
        # The bucketed-extract routing gate's listing is computed FIRST
        # and shared with the fingerprint's file walk, so a flagship run
        # pays one driver-side listing total (the gate, the fingerprint,
        # and the bucketed stage all reuse it).
        scan_files = _bare_file_scan(transcripts) if cfg.extract_buckets > 0 else None
        fp = pipeline_fingerprint(
            transcripts, lexicon, dicts, id_merge, cfg, mirna_dict, pathway_names,
            transcript_files=scan_files,
        )

        def cut(df):
            return lineage_store.run_stage(spark, next(stage_names), lambda: df, fingerprint=fp)

    def _build_mentions(tr: DataFrame) -> DataFrame:
        m = extract_mentions(tr, lexicon)
        if mirna_dict is not None or pathway_names:
            from bern_spark.operators.extract import with_canonical_text
            from bern_spark.operators.taggers import (
                make_pathway_udf,
                mirna_spans_udf,
                tag_regex_mentions,
            )

            turns = with_canonical_text(tr)
            if mirna_dict is not None:
                m = m.unionByName(tag_regex_mentions(turns, "miRNA", mirna_spans_udf))
            if pathway_names:
                m = m.unionByName(
                    tag_regex_mentions(turns, "pathway", make_pathway_udf(pathway_names))
                )
        return m

    if lineage_store is None:
        # no cut: the single-pass normalize_all (round-7) consumes the
        # mentions relation exactly ONCE, so an in-memory checkpoint here
        # would buy no reuse and cost one extra materialization boundary
        # per run; extraction materializes inside the `normalized` cut
        # right below instead.
        mentions = _build_mentions(transcripts)
    elif cfg.extract_buckets == 0:
        # durable stage_01: with a store the cut is about RESUMABILITY,
        # not reuse — keep it
        mentions = cut(_build_mentions(transcripts))
    elif scan_files:
        # Bucketed extract (VERDICT r4 item 3): valid because extraction
        # is per-turn — no cross-conv_id interaction — so any row
        # partition can run as its own sub-job. File buckets: each
        # sub-job reads ONLY its buckets' files, one total input pass
        mentions = lineage_store.run_file_bucketed_stage(
            spark, next(stage_names), transcripts, _build_mentions,
            n_buckets=cfg.extract_buckets, fingerprint=fp, files=scan_files,
        ).drop("_bucket")
    else:
        # in-memory / filtered / partitioned inputs: hash buckets on
        # conv_id (rescans the input per sub-job)
        mentions = lineage_store.run_bucketed_stage(
            spark, next(stage_names), transcripts, ["conv_id"], _build_mentions,
            n_buckets=cfg.extract_buckets, fingerprint=fp,
        ).drop("_bucket")
    normalized = normalize_all(mentions, dicts)
    if mirna_dict is not None:
        from bern_spark.operators.taggers import normalize_mirna

        mir = normalized.where(F.col("etype") == "miRNA").drop("oid")
        normalized = normalized.where(F.col("etype") != "miRNA").unionByName(
            normalize_mirna(mir, mirna_dict)
        )

    # node identity for clustering: etype-scoped mention id (ties at the
    # same span across etypes are distinct nodes)
    normalized = cut(
        normalized.withColumn("node", F.concat_ws("@", "etype", "mention_id"))
    )

    # --- edge sources -----------------------------------------------------
    # Pairwise work runs on DISTINCT (etype, surface) strings only — the
    # name-level batching of the reference (normalize.py:196-219) made
    # structural: every mention links to its surface node by a star edge,
    # so identical surfaces never generate quadratic pairs (the 10^12-turn
    # hot-block defense; SURVEY §7 hard part d).
    snode = lambda surf_col: F.concat_ws("#", F.lit("sf"), F.col("etype"), surf_col)  # noqa: E731

    # distinct surfaces + their oids: ONE corpus-sized dedup, checkpointed
    # so the blocking self-join and edge builds never rescan the corpus
    surf_oid = cut(
        normalized.select("etype", "mention", "oid").dropDuplicates(["etype", "mention"])
    )
    surfaces = surf_oid.select("etype", F.col("mention").alias("surface"))
    blocked = with_block_keys(surfaces)
    pairs = candidate_pairs(blocked, max_block_size=cfg.max_block_size, use_lsh=cfg.use_lsh)
    emb = None
    if cfg.use_embedding_cosine:
        from bern_spark.operators.scoring import hashed_surface_embeddings

        emb = hashed_surface_embeddings(surfaces)
    scored = cut(score_pairs(pairs, threshold=cfg.score_threshold, embeddings=emb))
    sim_edges = scored.select(
        snode(F.col("mention_a")).alias("src"),
        snode(F.col("mention_b")).alias("dst"),
    )

    # surface -> oid star edges (same-oid transitivity without pair blow-up)
    oid_edges = surf_oid.where(F.col("oid") != CUI_LESS).select(
        snode(F.col("mention")).alias("src"),
        F.concat_ws(":", F.lit("oid"), "etype", "oid").alias("dst"),
    )

    edges = sim_edges.unionByName(oid_edges)

    # id_merge edges (J6 seed): old oid -> canonical oid, gene namespace
    if id_merge is not None:
        merge_edges = id_merge.select(
            F.concat(F.lit("oid:gene:"), F.col("src_oid")).alias("src"),
            F.concat(F.lit("oid:gene:"), F.col("dst_oid")).alias("dst"),
        )
        edges = edges.unionByName(merge_edges)

    # --- clustering -------------------------------------------------------
    # The clustering graph is VOCABULARY-sized: nodes are distinct
    # surfaces + oid anchors (+ id_merge oids), never mention occurrences
    # — a 10^12-turn corpus with 10^8 distinct surfaces runs CC on 10^8
    # nodes, and mentions inherit their surface's cluster by one
    # broadcast-able join afterwards. (Mention-level edges would make CC
    # corpus-sized for zero information gain: a mention connects only
    # through its surface.)
    # CC cuts its canonical edge set and each star-round iteration with
    # the run's own cut. Below cc.LOCAL_MAX_EDGES canonical edges only the
    # canonical set is cut and the components come back as a broadcast
    # relation. With a lineage store every cut is the next positional
    # stage under the run fingerprint, so a driver killed mid-fixpoint
    # replays the iterations it finished on restart instead of redoing
    # them (north-rule resumability for the one loop that runs minutes at
    # 10^8 nodes)
    surf_labels = connected_components(edges, max_iter=cfg.max_cc_iter, cut=cut).select(
        F.col("node").alias("_snode"), F.col("cluster_id").alias("_scluster")
    )

    # no hint of our own: connected_components broadcast-hints the labels
    # only when it measured them small; at 10^8 distinct surfaces AQE
    # must be free to pick a shuffle join from runtime stats
    clustered = normalized.withColumn("_snode", snode(F.col("mention"))).join(
        surf_labels, "_snode", "left"
    )
    clustered = clustered.withColumn(
        "cluster_id", F.coalesce("_scluster", F.col("_snode"))
    ).drop("_snode", "_scluster")
    labels = clustered.select("node", "cluster_id")

    # metadata attach (J7/J8): one broadcast join for all three meta dims
    final = attach_metadata(clustered, dicts)

    # W11 output ordering lives where it is observable: the per-turn
    # ``denotations`` arrays below are sort_array'd by (start, etype), and
    # sinks (sources/pubtator.py) emit in that order. A global orderBy on
    # the mentions relation would add a full sort + exchange for a
    # presentation property relational consumers don't need.

    # S7/W11: per-turn annotated output — canonical text + denotations
    # array sorted by (start, etype), the PubAnnotation-sink analog
    # (convert.py:467-556). Text equality per (conv_id, turn_idx) against
    # the canonical input is the pipeline's per-row invariant.
    from bern_spark.operators.extract import with_canonical_text

    turns = with_canonical_text(transcripts)
    denos = final.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(
            F.collect_list(
                F.struct("start", "end", "mention", "etype", "oid", "norm_ids", "cluster_id")
            )
        ).alias("denotations")
    )
    annotations = turns.join(denos, ["conv_id", "turn_idx"], "left").withColumn(
        "denotations",
        F.coalesce(
            F.col("denotations"),
            F.array().cast(denos.schema["denotations"].dataType),
        ),
    )

    return {
        "mentions": final,
        "annotations": annotations,
        "edges": edges,
        "labels": labels,
        "surface_labels": surf_labels.select(
            F.col("_snode").alias("node"), F.col("_scluster").alias("cluster_id")
        ),
        "pairs_scored": scored,
    }


def pairwise_f1(labels: DataFrame, labeled_pairs: DataFrame) -> dict[str, float]:
    """Evaluate predicted clustering against the labeled_pairs oracle
    (FIXTURES §5): predicted match <=> same cluster_id. Node ids in labels
    are ``etype@conv|turn|start``; labeled block_key carries ``etype:...``."""
    lp = labeled_pairs.withColumn("etype", F.split("block_key", ":").getItem(0))
    la = labels.withColumnRenamed("node", "node_a").withColumnRenamed("cluster_id", "ca")
    lb = labels.withColumnRenamed("node", "node_b").withColumnRenamed("cluster_id", "cb")
    j = (
        lp.withColumn("node_a", F.concat_ws("@", "etype", "mention_id_a"))
        .withColumn("node_b", F.concat_ws("@", "etype", "mention_id_b"))
        .join(la, "node_a", "left")
        .join(lb, "node_b", "left")
        .withColumn("pred", (F.col("ca").isNotNull() & (F.col("ca") == F.col("cb"))))
    )
    agg = j.agg(
        F.sum(F.when(F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("is_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1, "tp": tp, "fp": fp, "fn": fn}
