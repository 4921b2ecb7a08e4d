package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Physical-plan hygiene checks — the properties that keep these operators
  * viable at 100 TB: predicate pushdown into the scan, column pruning,
  * broadcast of small dimensions, and map-side partial aggregation. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("watermark filter is pushed down to the parquet scan (q10)") {
    // the NanosWatermarkPushdown rule rewrites the micros-conversion
    // comparison into raw-nanos space so it reaches the scan
    val plan = planOf(SparkEntry.queries("q10_watermark_filter")(spark, sf0001))
    plan should include("GreaterThan(ts")
    plan should include regex "PushedFilters: \\[[^\\]]*GreaterThan\\(ts"
  }

  test("nanos pushdown rewrite preserves exact boundary semantics") {
    import spark.implicits._
    val ev = Tables.table(spark, sf0001, "events")
    val lo = "2024-01-10 00:00:00"
    val hi = "2024-01-20 00:00:00"
    val filtered = ev.where(
      col("ts") > lit(lo).cast("timestamp") && col("ts") <= lit(hi).cast("timestamp"))
    // oracle: same interval evaluated driver-side on the rendered timestamps
    // (ISO strings compare lexicographically)
    val expected = ev.select(col("ts").cast("string")).as[String].collect()
      .count(s => s > lo && (s == hi || s <= hi))
    filtered.count() shouldBe expected
  }

  test("column pruning: metadata-only projection reads no payload (q31)") {
    val df = graft.ops.Multimodal.metadataOnly(
      graft.ops.Multimodal.asMediaTable(
        Tables.table(spark, sf0001, "documents"), "doc_id", "text", "text"))
    // the physical scan must read only doc_id + text (no other columns)
    val plan = planOf(df)
    plan should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("star join broadcasts every dimension (q02)") {
    val plan = planOf(graft.etl.StarSchema.buildFactOrderDetails(spark, sf0001))
    // 6 of the 7 tables are dims; at least 5 broadcast joins expected
    "BroadcastHashJoin".r.findAllIn(plan).size should be >= 5
  }

  test("marts aggregate with map-side partial aggregation (q03)") {
    val daily = graft.etl.GoldMarts.sellerPerformanceDaily(
      graft.etl.GoldMarts.withDateParts(
        graft.etl.StarSchema.buildFactOrderDetails(spark, sf0001)))
    val plan = planOf(daily)
    // partial + final pair: two HashAggregate nodes per aggregation
    "HashAggregate".r.findAllIn(plan).size should be >= 2
  }

  test("orderRates avoids the multi-countDistinct Expand blow-up (q06)") {
    val plan = planOf(graft.etl.GoldMarts.orderRates(
      graft.etl.StarSchema.buildFactOrderDetails(spark, sf0001)))
    // the naive 4-way countDistinct(when(...)) formulation plans an Expand
    // (4x row multiplication before the shuffle); ours must not
    plan should not include "Expand"
  }

  test("scd2 expiry join broadcasts the changed-key set (q15)") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    import spark.implicits._
    val tgt = graft.etl.Scd2.initialLoad(
      Seq((1, "a"), (2, "b")).toDF("id", "v"), t0)
    val staged = Seq((2, "b2", "UPDATE")).toDF("id", "v", "action")
    val plan = planOf(graft.etl.Scd2.applyMerge(tgt, staged, "id", t0))
    plan should include("BroadcastHashJoin")
  }

  test("ANN/near-dup scale paths never plan a cartesian product (q25/q34/q43/q44)") {
    // the entire point of LSH bucketing is replacing the N² cross join with
    // bucket equi-joins; a cartesian anywhere means the scale path regressed
    graft.core.CacheRegistry.scoped {
      for (q <- Seq("q25_ann_lsh_topk", "q34_ann_multiband",
        "q43_dedup_drop_lsh", "q44_embed_neardup_lsh", "q141_dup_weights",
        "q200_embed_dedup_across", "q263_margin_mates",
        "q336_perceptual_neardup",
        // round 7: random-hyperplane and multi-probe tiers obey the same
        // law — plane projections and probe buckets are scan-stage, the
        // candidate stage is a (band, bucket) equi-join
        "q341_rplsh_neardup", "q343_rplsh_dedup_across",
        "q344_lsh_multiprobe",
        // round 8: the container-true chain bands the same 8-byte
        // fingerprints — real P6 decode is scan-stage, never join-stage
        "q348_ppm_neardup_real",
        // the codec tier (PNG through ImageIO) bands identically — the
        // DEFLATE decode is scan-stage
        "q358_png_neardup_real",
        // the video tier adds the frame index to the band key; the Y4M
        // decode + per-frame SimHash are scan-stage, candidates remain a
        // (frame, band, bucket) equi-join
        "q355_y4m_neardup_real",
        // the trimodal vote unions three banded pair sets and aggregates —
        // no new join against item tables anywhere in the composite
        "q361_trimodal_consensus",
        // round 9: the 128-bit text tier bands 16-byte fingerprints the
        // same way (q367's recall LEDGER is exempt like q325/q335 — its
        // single-row metric attaches are deliberate 1-row broadcast
        // cross joins; its pair generation is gated via q355)
        "q364_perceptual128_neardup")) {
      // (q325/q335 also consume the banded pair table, but their audit
      // scalars ride a deliberate 1-row broadcast cross join — the gate
      // covers their pair generation via q141)
        val plan = planOf(SparkEntry.queries(q)(spark, sf0001))
        withClue(s"$q: ") {
          plan should not include "CartesianProduct"
          plan should not include "BroadcastNestedLoopJoin"
        }
      }
    }
  }

  test("ivf assignment broadcasts the centroid table; no cartesian (q38)") {
    val plan = planOf(SparkEntry.queries("q38_ivf_topk")(spark, sf0001))
    plan should not include "CartesianProduct"
    // the N×C assignment IS a broadcast nested loop against the tiny
    // centroid table — that is the IVF design (map-side, no shuffle);
    // the candidate join itself stays an equi join on the cell
    plan should include("BroadcastNestedLoopJoin")
  }

  test("silver current-slice scan prunes on the is_current partition") {
    import java.sql.Timestamp
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-plan-silver").toString
    val store = new graft.sources.TableStore(spark)
    // a merged silver state: history (is_current=false) + current slice
    val state = Seq(
      (1, "a", false), (1, "a2", true), (2, "b", true)
    ).toDF("id", "v", "is_current")
    store.overwrite(s"$root/Customers", state, Seq("is_current"))
    val slice = graft.etl.GoldBuild.currentSlice(store, root, "Customers")
    // the filter must reach the scan as a PARTITION filter (pruning), not a
    // post-scan data filter over full history
    planOf(slice) should include regex "PartitionFilters: \\[[^\\]]*is_current"
    slice.select("id", "v").as[(Int, String)].collect().toSet shouldBe
      Set((1, "a2"), (2, "b"))
  }

  test("silver's bronze scan prunes ingest_date partitions below the watermark") {
    import java.sql.Timestamp
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    import graft.etl.{BronzeIngest, SilverScd2}
    import graft.sources.{TableConfig, TableStore, WatermarkStore}
    val root = java.nio.file.Files.createTempDirectory("graft-plan-bronze").toString
    val store = new TableStore(spark)
    val wm = new WatermarkStore(spark, s"$root/state")
    val days = Seq("2026-01-01", "2026-02-01", "2026-03-01")
      .map(d => Timestamp.valueOf(s"$d 12:00:00"))
    def ingest(id: Int, ts: Timestamp): Unit =
      store.append(s"$root/bronze/Customers", BronzeIngest.withAuditCols(
        Seq((id, s"c$id")).toDF("CustomerID", "Name"), ts), Seq("ingest_date"))
    def run(ts: Timestamp) = SilverScd2.run(store, wm, s"$root/bronze",
      s"$root/silver", TableConfig("Customers", "CustomerID"), ts,
      graft.actions.NullSink, sideChannelCols = Seq("Name"))
    ingest(1, days(0)); ingest(2, days(1))
    run(days(1)) // watermark now days(1)
    ingest(3, days(2))

    // the bronze scan sits inside the persisted batch of SilverScd2.run
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => o.children.flatMap(scans)
    }
    val seen = new ConcurrentLinkedQueue[FileSourceScanExec]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        scans(qe.executedPlan).filter(_.partitionFilters.exists(
          _.references.exists(_.name == "ingest_date"))).foreach(seen.add)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run(days(2)).action shouldBe "merged"
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(60.seconds)) { seen.isEmpty shouldBe false }
    } finally spark.listenerManager.unregister(listener)
    // the scan lists only the partitions the watermark can still need:
    // days(0) lies more than the two days of slack below it
    val scan = seen.peek()
    scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.values.getInt(0)).toSet shouldBe
      days.drop(1).map(d => d.toLocalDateTime.toLocalDate.toEpochDay.toInt).toSet
    store.read(s"$root/silver/Customers").where($"is_current").count() shouldBe 3L
  }

  test("banded range join plans an equi-join, never an inequality loop (q47)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q47_range_join_count")(spark, sf0001))
      // a naive t BETWEEN ... join plans BroadcastNestedLoop/Cartesian; the
      // banded formulation must stay a hash/sort-merge equi join on (key, bucket)
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }
  }

  test("incremental dedup joins corpus bands to batch bands only, no cartesian (q49)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q49_incremental_dedup")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }
  }

  test("kmeans step aggregates vectors map-side, no posexplode shuffle (q50)") {
    val df = SparkEntry.queries("q50_kmeans_step")(spark, sf0001)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the element rows must NOT be exploded before the shuffle; the vector
    // aggregate runs as partial+final ObjectHashAggregate pairs
    finalPlan should not include "Generate posexplode(embedding"
    "ObjectHashAggregate".r.findAllIn(finalPlan).size should be >= 2
  }

  test("revenue trend runs running-sum and lag in ONE window pass (q54)") {
    val df = SparkEntry.queries("q54_revenue_trend")(spark, sf0001)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // same partitioning AND ordering for both window functions ⇒ a single
    // Window node (one sort); two nodes would mean a redundant exchange/sort
    "Window \\[".r.findAllIn(finalPlan).size shouldBe 1
  }

  test("chunking is a pure scan-stage explode: zero exchanges (q59)") {
    val df = SparkEntry.queries("q59_chunking")(spark, sf0001)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    finalPlan should not include "Exchange"
  }

  test("vocabulary aggregates with map-side partials and a TakeOrdered cut, no Expand (q58)") {
    val df = SparkEntry.queries("q58_vocabulary")(spark, sf0001)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    finalPlan should include("TakeOrderedAndProject")
    finalPlan should not include "Expand"
    // both aggregations split partial/final: 2 HashAggregate pairs
    "HashAggregate".r.findAllIn(finalPlan).size should be >= 4
  }

  test("z-order value and histogram stay in the scan stage: one exchange for the group-by (q61)") {
    val hist = SparkEntry.queries("q61_histogram")(spark, sf0001)
    hist.collect()
    val histPlan = planOf(hist).split("== Initial Plan ==").head
    "Exchange".r.findAllIn(histPlan).size shouldBe 1   // only the final agg shuffle
    val z = SparkEntry.queries("q62_zorder_value")(spark, sf0001)
    z.collect()
    val zPlan = planOf(z).split("== Initial Plan ==").head
    zPlan should not include "Exchange"                 // per-row bit fold only
    zPlan should include("*(")                          // codegen'd
  }

  test("decontamination probes bench shingles via broadcast, no cartesian (q73)") {
    val df = SparkEntry.queries("q73_decontaminate")(spark, sf0001)
    // static plan: the shingle probe is a broadcast hash join (AQE may later
    // ELIMINATE the flag join outright when the hit set turns out empty —
    // also correct, but unassertable)
    val staticPlan = df.queryExecution.sparkPlan.toString
    staticPlan should include("BroadcastHashJoin")
    staticPlan should not include "CartesianProduct"
    staticPlan should not include "BroadcastNestedLoopJoin"
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    finalPlan should not include "CartesianProduct"
    finalPlan should not include "BroadcastNestedLoopJoin"
  }

  test("corpus index/LM/BPE marts: partial aggs, heap-based cuts, no Expand (q79/q80/q81)") {
    graft.core.CacheRegistry.scoped {
      val bpe = planOf(SparkEntry.queries("q80_bpe_pairs")(spark, sf0001))
      // top-k cut must be per-partition heaps, not a global sort
      bpe should include("TakeOrderedAndProject")
      bpe should not include "Expand"
      for (q <- Seq("q79_lm_familiarity", "q81_inverted_index")) {
        val plan = planOf(SparkEntry.queries(q)(spark, sf0001))
        withClue(s"$q: ") {
          plan should not include "CartesianProduct"
          plan should not include "Expand"
        }
      }
    }
  }

  test("source overlap and SemDeDup pair stages are equi-joins, never cartesian (q82/q83)") {
    graft.core.CacheRegistry.scoped {
      val overlap = planOf(SparkEntry.queries("q82_source_overlap")(spark, sf0001))
      overlap should not include "CartesianProduct"
      overlap should not include "BroadcastNestedLoopJoin"
      val sem = planOf(SparkEntry.queries("q83_semantic_dedup")(spark, sf0001))
      // centroid assignment IS a broadcast nested loop against k rows (the
      // IVF design); the within-cell pair join must stay an equi join
      sem should not include "CartesianProduct"
    }
  }

  test("hash-embed vectorizer runs entirely in the scan stage: zero exchanges (q85)") {
    // native per-row kernel + posexplode + filter — no token ever shuffles
    val plan = planOf(SparkEntry.queries("q85_hash_embed")(spark, sf0001))
    plan should not include "Exchange"
  }

  test("fuzzy match is a block-keyed equi-join, never a cartesian (q92)") {
    val plan = planOf(SparkEntry.queries("q92_fuzzy_match")(spark, sf0001))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // levenshtein runs as a post-join filter, not a join condition that
    // would force a nested loop
    plan should include("levenshtein")
  }

  test("pivot mart: one scan, two-phase reduce-then-pivot, no Expand (q93)") {
    val plan = planOf(SparkEntry.queries("q93_event_pivot")(spark, sf0001))
    plan should not include "Expand"
    // the good pivot plan: a (day, type) partial-agg reduction of the log,
    // then pivotfirst over the tiny reduced table — each two-phase
    "HashAggregate".r.findAllIn(plan).size shouldBe 4
    plan should include("partial_pivotfirst")
    "FileScan".r.findAllIn(plan).size shouldBe 1 // pinned domain: no discovery pass
  }

  test("moment profile is one partial-agg pass over the scan (q94)") {
    val plan = planOf(SparkEntry.queries("q94_value_moments")(spark, sf0001))
    "HashAggregate".r.findAllIn(plan).size shouldBe 2
    plan should include("partial_sum")
  }

  test("power iteration aggregates vectors map-side; no element explode before agg (q97)") {
    val plan = planOf(SparkEntry.queries("q97_principal_component")(spark, sf0001))
    // the weighted-sum aggregate is object-hash with a partial phase: the
    // shuffle carries one d-long buffer per partition, not N·d rows
    plan should include("ObjectHashAggregate")
    plan should include("partial_float_vector_weighted_sum")
    // the only explode is the FINAL posexplode of one d-long row
    "Generate posexplode".r.findAllIn(plan).size shouldBe 1
  }

  test("label outliers broadcast the centroid table; cosine runs scan-side (q98)") {
    val plan = planOf(SparkEntry.queries("q98_label_outliers")(spark, sf0001))
    plan should include("BroadcastHashJoin")
    plan should include("float_vector_dot")
    plan should not include "SortMergeJoin"
  }

  test("column profiler prunes each pass to ONE column; no Expand (q99)") {
    val plan = planOf(SparkEntry.queries("q99_column_profile")(spark, sf0001))
    plan should not include "Expand"
    // every per-column aggregation's scan reads exactly its own column
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    schemas should not be empty
    all(schemas.map(s => s.count(_ == ':'))) shouldBe 2 // "ReadSchema:" + one field
  }

  test("curation eligibility is ONE scan-stage pass: no join, no exchange (q53)") {
    // the language/quality filters are pure Columns, so the eligible slice
    // is a single filtered scan of `documents` — round 3 computed each
    // filter as a separate DataFrame and joined both back on the id,
    // shuffling the whole corpus twice
    import graft.ops.TextStats
    val eligible = Tables.table(spark, sf0001, "documents")
      .where(TextStats.detectedLang(col("text")) === "en"
        && TextStats.qualityBucket(col("text")) =!= "low")
      .select("doc_id", "text")
    val plan = planOf(eligible)
    plan should not include "Join"
    plan should not include "Exchange"
    "Scan parquet".r.findAllIn(plan).size shouldBe 1
  }

  test("semantic contamination broadcasts the bench side; one exchange for the max (q112)") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val df = graft.ops.Embeddings.semanticContamination(
      emb.where(col("vec_id") % 25 =!= 0), emb.where(col("vec_id") % 25 === 0),
      "vec_id", "embedding", 0.30)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // the N×|bench| grid is a broadcast nested-loop (map-side), never a
    // shuffled join; the only hash exchange is the per-id max aggregate,
    // which reduces map-side first (partial HashAggregate below it)
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should include("partial_max")
  }

  test("PQ encode is one scan-stage pass against literal codebooks (q116)") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cb = graft.ops.Embeddings.pqTrain(emb, "vec_id", "embedding", 64, 2, 8, 1)
    val df = graft.ops.Embeddings.pqEncode(emb, "vec_id", "embedding", cb, 64, 2)
    val plan = planOf(df)
    // the codebook rides as literals: no join, no exchange, one scan —
    // the corpus is encoded in the pass that reads it
    plan should not include "Join"
    plan should not include "Exchange"
    "Scan parquet".r.findAllIn(plan).size shouldBe 1
  }

  test("IVF-PQ probes via a broadcast cell join; candidates never reload vectors (q118)") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cb = graft.ops.Embeddings.pqTrain(emb, "vec_id", "embedding", 64, 2, 8, 1)
    val df = graft.ops.Similarity.ivfPqTopK(
      emb.where(col("vec_id") % 50 =!= 0), "vec_id", "embedding",
      emb.where(col("vec_id") % 50 === 0), "vec_id", cb, 64, 2, 10, 8, 2)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // cell assignment and probing are scan-stage argmax expressions, so the
    // only join is the broadcast probe join on the cell key — never a
    // cartesian, never a shuffled join
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("repeated-span detection: grams generated scan-stage, one df hash-agg (q114)") {
    val df = graft.ops.Dedup.repeatedSpans(
      Tables.table(spark, sf0001, "documents").select("doc_id", "text"),
      "doc_id", "text", 3)
    val plan = planOf(df)
    // positional grams come from Generate over the scan (no positional
    // self-join), and the duplicate filter is a semi-join on the gram key
    plan should include("Generate")
    plan should not include "CartesianProduct"
    plan should include("LeftSemi")
    graft.core.CacheRegistry.drain()
  }

  test("queries stay inside whole-stage codegen (q01)") {
    // AQE hides the physical plan until execution — and count() runs a
    // CLONED QueryExecution, so collect() this one, then read the final plan
    // (codegen stages print with the `*(n)` marker)
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf0001)
    df.collect()
    planOf(df) should include("*(")
  }

  test("DSIR weights broadcast the ratio table; histograms partial-agg; no cartesian (q136)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q136_dsir_weights")(spark, sf0001))
      // the <= numBuckets-row log-ratio table must broadcast over the
      // token stream — a shuffled join there would move the whole corpus.
      // (The 1-row totals cross-join INSIDE the ratio subtree prints as a
      // BroadcastNestedLoopJoin over <= numBuckets rows — bounded by
      // design, the temperatureMixture scalar-totals device.)
      plan should include("BroadcastHashJoin")
      plan should not include "CartesianProduct"
      // the per-doc sum partial-aggs map-side (the histograms sit inside
      // the broadcast subtree, which the plan string truncates)
      "HashAggregate".r.findAllIn(plan).size should be >= 2
    }
  }

  test("ranking metrics: ONE exchange on the query key, shared by window and agg (q137)") {
    val plan = planOf(SparkEntry.queries("q137_ranking_metrics")(spark, sf0001))
    // the ideal-rank window and the final aggregate both key on user_id;
    // the sort-based window partitioning must be reused by the aggregate
    // rather than re-shuffled (plus the one exchange the ranker's own
    // window needs on the same key)
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size should be <= 2
    plan should not include "Exchange SinglePartition"
  }

  test("hard negatives (LSH path): banded equi-join candidates, never cartesian (q139 twin)") {
    graft.core.CacheRegistry.scoped {
      val e = Tables.table(spark, sf0001, "embeddings")
      val plan = planOf(graft.ops.Similarity.hardNegativesLsh(
        e, "vec_id", "embedding", "label", 3, 4, 8))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }
  }

  test("centroid drift joins group means to a broadcast global table (q142)") {
    val plan = planOf(SparkEntry.queries("q142_centroid_drift")(spark, sf0001))
    // the d-row global centroid must broadcast; the corpus is never
    // element-exploded (both centroids come from the vector-sum buffers)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("exact-k sample is a TakeOrdered heap merge, not a global sort (q143)") {
    val plan = planOf(SparkEntry.queries("q143_exact_k_sample")(spark, sf0001))
    plan should include("TakeOrderedAndProject")
    // no range-partitioned total sort of the corpus behind the limit
    plan should not include "Exchange rangepartitioning"
  }

  test("per-stratum exact-k keeps map-side k-heaps before the exchange (q144)") {
    val plan = planOf(SparkEntry.queries("q144_stratified_exact_k")(spark, sf0001))
    // Spark's WindowGroupLimit rewrite: the rn <= k cut runs on the map
    // side, so the stratum exchange carries ≤ k·|strata| rows per task
    plan should include("WindowGroupLimit")
    plan should not include "Exchange rangepartitioning"
  }

  test("group diversity never generates pairs or explodes elements (q145)") {
    val plan = planOf(SparkEntry.queries("q145_group_diversity")(spark, sf0001))
    // norm-of-sum identity: one group-keyed hash-agg over vector-sum
    // buffers; no self-join, no element explode of the corpus
    plan should not include "CartesianProduct"
    plan should not include "Generate"
    "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 1
  }

  test("session sequences: window, sort, and group share ONE user exchange (q146)") {
    val plan = planOf(SparkEntry.queries("q146_session_sequences")(spark, sf0001))
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size should be <= 1
    plan should not include "Exchange SinglePartition"
  }

  test("markup strip is a pure scan-stage projection: zero exchanges (q147)") {
    val plan = planOf(SparkEntry.queries("q147_strip_markup")(spark, sf0001))
    plan should not include "Exchange"
  }

  test("term dictionary ranks without a single-partition window (q150)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q150_term_ids")(spark, sf0001))
      plan should not include "Exchange SinglePartition"
      plan should not include "CartesianProduct"
    }
  }

  test("padding buckets: scan-stage bucketing, one hash-agg exchange (q151)") {
    val plan = planOf(SparkEntry.queries("q151_padding_buckets")(spark, sf0001))
    "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 1
    plan should not include "Exchange SinglePartition"
  }

  test("mixture schedule ranks per source: one exchange, never one partition (q152)") {
    val plan = planOf(SparkEntry.queries("q152_mixture_schedule")(spark, sf0001))
    "Exchange hashpartitioning\\(source".r.findAllIn(plan).size shouldBe 1
    plan should not include "Exchange SinglePartition"
  }

  test("top-k per group keeps map-side heaps before the exchange (q153)") {
    val plan = planOf(SparkEntry.queries("q153_topk_per_group")(spark, sf0001))
    plan should include("WindowGroupLimit")
  }

  test("user snapshot: one user hash-agg, single distinct plans without Expand (q154)") {
    val plan = planOf(SparkEntry.queries("q154_user_snapshot")(spark, sf0001))
    plan should not include "Expand"
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size should be <= 2
  }

  test("write plan: one key hash-agg shared via cache, total broadcast back (q155)") {
    val plan = planOf(SparkEntry.queries("q155_write_plan")(spark, sf0001))
    // the per-key agg is computed ONCE (cached) and shared by the total
    // and the projection; the total joins back broadcast — never a
    // corpus-wide window, never a second scan
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
  }

  test("matryoshka truncation is a pure scan-stage projection (q156)") {
    val plan = planOf(SparkEntry.queries("q156_matryoshka")(spark, sf0001))
    plan should not include "Exchange"
  }

  test("label balance: label-keyed exchanges only, min-count broadcast (q157)") {
    val plan = planOf(SparkEntry.queries("q157_balance_labels")(spark, sf0001))
    "Exchange hashpartitioning\\(label".r.findAllIn(plan).size should be <= 2
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
  }

  test("funnel: per-user depths cached and shared; fold is scan-stage (q158)") {
    val plan = planOf(SparkEntry.queries("q158_funnel_steps")(spark, sf0001))
    // the per-user depth table is computed once (cached) and shared by
    // the step explode and the step-1 denominator; the one user exchange
    // lives inside the cached subtree
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("orphan audit: id-keyed join, never cartesian (q159)") {
    val plan = planOf(SparkEntry.queries("q159_orphan_audit")(spark, sf0001))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("coordinated sample: both membership filters before the key join (q160)") {
    val plan = planOf(SparkEntry.queries("q160_coordinated_sample")(spark, sf0001))
    plan should not include "CartesianProduct"
    // the sample predicates are scan-stage projections on each side —
    // two base scans, each filtered before any exchange
    "Filter.*md5".r.findAllIn(plan).size should be >= 2
  }

  test("ewma: ONE user exchange, fold is scan-stage (q161)") {
    val plan = planOf(SparkEntry.queries("q161_ewma_snapshot")(spark, sf0001))
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
  }

  test("pagerank: one dst hash-agg per round, edges/nodes cached (q163 core)") {
    import spark.implicits._
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 0.5))
      .toDF("src", "dst", "w")
    val plan = planOf(graft.ops.Graph.pageRank(e, "src", "dst", "w", 0.85, 2))
    // per-round contribution agg reduces map-side before its exchange
    plan should include("partial_sum")
    plan should not include "CartesianProduct"
    plan should include("InMemoryTableScan") // edges + out-weights shared
  }

  test("label spread: vote agg partial, edges/base cached, no cartesian (q167 core)") {
    import spark.implicits._
    val n = Seq((1L, Some(1)), (2L, Some(2)), (3L, None)).toDF("id", "label")
    val e = Seq((1L, 3L, 1.0), (2L, 3L, 2.0)).toDF("src", "dst", "w")
    val plan = planOf(
      graft.ops.Graph.labelSpread(n, "id", "label", e, "src", "dst", "w", 2))
    // the per-round (dst, label) vote agg reduces map-side before its exchange
    plan should include("partial_sum")
    plan should not include "CartesianProduct"
    plan should include("InMemoryTableScan") // edges + seed base shared
  }

  test("term-label MI: broadcast label histogram + totals, no Expand (q170)") {
    val plan = planOf(SparkEntry.queries("q170_term_label_mi")(spark, sf0001))
    plan should include("partial_sum")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "Expand"
  }

  test("decayed counts: asOf bound pushed to the scan, one key agg (q171)") {
    val plan = planOf(SparkEntry.queries("q171_decayed_counts")(spark, sf0001))
    // the constant-folded timestamp_micros bound reaches the parquet scan
    plan should include regex "PushedFilters: \\[[^\\]]*LessThanOrEqual\\(ts"
    plan should include("partial_sum") // map-side partial decay sums
    plan should not include "Exchange rangepartitioning" // never a sort
  }

  test("psi drift: per-side clamped-bin aggs, broadcast totals, no cartesian (q172)") {
    val plan = planOf(SparkEntry.queries("q172_psi_drift")(spark, sf0001))
    plan should include("partial_count")
    plan should not include "CartesianProduct"
  }

  test("hazard table: corpus reduces before the tiny at-risk window (q179)") {
    val plan = planOf(SparkEntry.queries("q179_hazard_table")(spark, sf0001))
    plan should include("partial_min") // per-user reduction combines map-side
    plan should not include "Join"
  }

  test("quantile normalize: source-window + broadcast grid, no global sort (q180)") {
    val plan = planOf(SparkEntry.queries("q180_quantile_normalize")(spark, sf0001))
    plan should include("BroadcastNestedLoopJoin") // the 1-row grid only
    plan should not include "Exchange rangepartitioning"
    plan should not include "CartesianProduct"
  }

  test("script shares: pure scan stage, zero exchanges (q176)") {
    val plan = planOf(SparkEntry.queries("q176_script_shares")(spark, sf0001))
    plan should not include "Exchange"
  }

  test("next-event examples: one user exchange, no join, no explode (q177)") {
    val plan = planOf(SparkEntry.queries("q177_next_event_examples")(spark, sf0001))
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    plan should not include "Generate"
  }

  test("more-like-this: broadcast query side, k-heap cut, postings cached (q178)") {
    val plan = planOf(SparkEntry.queries("q178_more_like_this")(spark, sf0001))
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
    plan should include("InMemoryTableScan")
    plan should not include "CartesianProduct"
  }

  test("late interaction: semi-join prune, token dictionary cached, " +
    "rerank-bounded joins (q181)") {
    val plan = planOf(SparkEntry.queries("q181_late_interaction")(spark, sf0001))
    plan should include("LeftSemi") // corpus pruned to pair docs pre-tokenize
    plan should include("InMemoryTableScan")
    plan should not include "CartesianProduct"
  }

  test("sorted batches: range-partitioned rank, no single-partition window (q194)") {
    val plan = planOf(SparkEntry.queries("q194_sorted_batches")(spark, sf0001))
    plan should not include "Exchange SinglePartition"
    plan should include("partial_max")
  }

  test("bigram entropy: kernel pair stream, broadcast totals, no Expand (q195)") {
    val plan = planOf(SparkEntry.queries("q195_bigram_entropy")(spark, sf0001))
    plan should include("partial_count")
    plan should include("BroadcastHashJoin")
    plan should not include "Expand"
  }

  test("containment: short-side probe cached, shingle equi-join, no cartesian (q191)") {
    val plan = planOf(SparkEntry.queries("q191_containment_pairs")(spark, sf0001))
    plan should include("InMemoryTableScan")
    plan should not include "CartesianProduct"
  }

  test("burstiness: two chained hash-aggs, no Expand (q192)") {
    val plan = planOf(SparkEntry.queries("q192_term_burstiness")(spark, sf0001))
    plan should include("partial_sum")
    plan should not include "Expand"
  }

  test("basket rules: basket-keyed self-join, broadcast totals, no cartesian (q193)") {
    val plan = planOf(SparkEntry.queries("q193_basket_rules")(spark, sf0001))
    plan should include("InMemoryTableScan")
    plan should not include "CartesianProduct"
  }

  test("classification report: one confusion reduction feeds all sides (q189)") {
    val plan = planOf(SparkEntry.queries("q189_classification_report")(spark, sf0001))
    plan should include("InMemoryTableScan") // the (label, pred) matrix shared
    plan should not include "CartesianProduct"
  }

  test("psi timeline: one day-bin reduction, baseline broadcast (q190)") {
    val plan = planOf(SparkEntry.queries("q190_psi_timeline")(spark, sf0001))
    plan should include("InMemoryTableScan")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("pareto frontier: range-partitioned pass, broadcast point set, " +
    "no single-partition window (q186)") {
    val plan = planOf(SparkEntry.queries("q186_pareto_frontier")(spark, sf0001))
    plan should not include "Exchange SinglePartition"
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("roc auc: reduced per-score table, shared group exchange, no join (q187)") {
    val plan = planOf(SparkEntry.queries("q187_roc_auc")(spark, sf0001))
    plan should not include "Exchange SinglePartition"
    plan should not include "Join"
    plan should include("partial_sum")
  }

  test("count-min: partial sketch agg, 1-row sketch broadcast, no cartesian (q184)") {
    val plan = planOf(SparkEntry.queries("q184_count_min")(spark, sf0001))
    plan should include("partial_count_min") // map-side sketch partials
    plan should include("BroadcastNestedLoopJoin") // the 1-row sketch frame
    plan should not include "CartesianProduct"
  }

  test("cusum: one key exchange builds sequences, fold is scan-stage (q185)") {
    val plan = planOf(SparkEntry.queries("q185_cusum_alerts")(spark, sf0001))
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
  }

  test("triangles: equi-joined wedges, canonical edges cached, no cartesian (q182)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "d")
    val plan = planOf(graft.ops.Graph.triangleStats(e, "s", "d"))
    plan should not include "CartesianProduct"
    plan should include("InMemoryTableScan")
  }

  test("random projection: literal matrix, zero exchanges (q183)") {
    val plan = planOf(SparkEntry.queries("q183_random_projection")(spark, sf0001))
    plan should not include "Exchange"
  }

  test("sketch contracts reduce before judging: no cartesian, no one-partition " +
    "window (q196-q199, q201, q202)") {
    graft.core.CacheRegistry.scoped {
      for (q <- Seq("q196_kmv_bound", "q197_mg_bound", "q198_quantile_bound",
        "q199_hll_bound", "q201_bootstrap_ci", "q202_ab_welch")) {
        val plan = planOf(SparkEntry.queries(q)(spark, sf0001))
        withClue(s"$q: ") {
          plan should not include "CartesianProduct"
          plan should not include "Exchange SinglePartition"
        }
      }
    }
  }

  test("calibration: one clamped-bin agg with map-side partials (q173)") {
    val plan = planOf(SparkEntry.queries("q173_calibration")(spark, sf0001))
    plan should include("partial_avg")
    plan should not include "CartesianProduct"
  }

  test("cluster medoids: cluster-keyed self-join, member cache shared (q174)") {
    val plan = planOf(SparkEntry.queries("q174_cluster_medoids")(spark, sf0001))
    plan should not include "CartesianProduct"
    plan should include("InMemoryTableScan")
  }

  test("linkage weights: block equi-join, scalar u's broadcast (q175)") {
    val plan = planOf(SparkEntry.queries("q175_linkage_weights")(spark, sf0001))
    plan should not include "CartesianProduct"
    plan should include("BroadcastNestedLoopJoin") // the 1-row u frame only
  }

  test("negative samples: broadcast pool, anti-join, map-side k-heaps (q164)") {
    val plan = planOf(SparkEntry.queries("q164_negative_samples")(spark, sf0001))
    plan should include("WindowGroupLimit")
    plan should not include "CartesianProduct"
  }

  test("source KL: one cached token agg feeds rollup, totals, grid (q165)") {
    val plan = planOf(SparkEntry.queries("q165_source_divergence")(spark, sf0001))
    // the (source, term) cells are computed once and shared three ways;
    // the V×S smoothing grid is broadcast-built, never a shuffle blow-up
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
  }

  test("surprisal: stats join on the pair key, V broadcast (q166)") {
    val plan = planOf(SparkEntry.queries("q166_bigram_surprisal")(spark, sf0001))
    plan should not include "CartesianProduct"
    plan should include("BroadcastNestedLoopJoin") // the 1-row V scalar
  }

  test("winsorize: quantile scalars broadcast back, no key shuffle (q162)") {
    val plan = planOf(SparkEntry.queries("q162_winsorize")(spark, sf0001))
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Exchange hashpartitioning"
  }

  test("fuzzy match: collapsed compare — levenshtein over the distinct-name " +
    "table, fan-out equi-joins, no cartesian (q92)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q92_fuzzy_match")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("InMemoryTableScan") // shared (blk, nm, id) cache
      plan should include("levenshtein")
    }
    graft.core.CacheRegistry.drain()
  }

  test("target encoding: key/prior stats broadcast, encode is scan-stage (q204)") {
    val plan = planOf(SparkEntry.queries("q204_target_encoding")(spark, sf0001))
    plan should include("BroadcastHashJoin") // the |keys|-row group table
    plan should include("BroadcastNestedLoopJoin") // the 1-row prior
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("correlation matrix: one single-row co-moment pass, no join (q205)") {
    val plan = planOf(SparkEntry.queries("q205_corr_matrix")(spark, sf0001))
    plan should not include "Join"
    plan should include("partial_covar_samp") // map-side co-moments
  }

  test("rolling active users: reduced (user, day) cached, bounded fan-out, " +
    "no range join (q206)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q206_rolling_active")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should not include "NestedLoop" // the range join lives in the oracle only
      plan should include("InMemoryTableScan") // shared (user, day) reduction
    }
    graft.core.CacheRegistry.drain()
  }

  test("temporal folds: one broadcast bounds row, assignment scan-stage (q207)") {
    val plan = planOf(SparkEntry.queries("q207_temporal_folds")(spark, sf0001))
    plan should include("BroadcastNestedLoopJoin") // the 1-row min/max
    plan should not include "SortMergeJoin"
    plan should not include "Exchange hashpartitioning"
  }

  test("neighbor mean: native vector-sum partials, equi-join only (q208)") {
    import spark.implicits._
    val edges = Seq((10L, 1L), (10L, 2L), (20L, 1L)).toDF("src", "dst")
    val emb = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val plan = planOf(graft.ops.Graph.neighborMeanEmbedding(
      edges, "src", "dst", emb, "vec_id", "embedding"))
    plan should include("partial_float_vector_sum") // map-side buffer
    plan should not include "CartesianProduct"
  }

  test("span corruption: zero exchanges — fully scan-stage (q209)") {
    val plan = planOf(SparkEntry.queries("q209_span_corruption")(spark, sf0001))
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("wau sketch contract: mergeable partial day sketches, no range join (q211)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q211_wau_hll_bound")(spark, sf0001))
      plan should include("partial_hll_sketch_agg") // map-side registers
      plan should include("partial_hll_union_agg") // mergeable window union
      plan should not include "CartesianProduct"
    }
    graft.core.CacheRegistry.drain()
  }

  test("attribution: one user equi-join, per-conversion window only (q212)") {
    val plan = planOf(SparkEntry.queries("q212_attribution")(spark, sf0001))
    plan should not include "CartesianProduct"
    plan should not include "NestedLoop" // the time filter rides the equi-join
    plan should not include "Exchange SinglePartition"
  }

  test("join-size contract: two 1-row sketch aggs broadcast together (q216)") {
    val plan = planOf(SparkEntry.queries("q216_join_size_cms")(spark, sf0001))
    plan should include("partial_count_min")
    plan should not include "SortMergeJoin" // only 1-row broadcast crosses
  }

  test("curation-to-tape: shared eligible cache, banded join, no cartesian, " +
    "per-shard window only (q221)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q221_curation_to_tape")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("InMemoryTableScan") // eligible feeds LSH + verify + pack
      plan should not include "Exchange SinglePartition" // pack window is per-shard
    }
    graft.core.CacheRegistry.drain()
  }

  test("tpc-h shapes: dims broadcast, date filters pushed to scans (q218/q219)") {
    val p3 = planOf(SparkEntry.queries("q218_shipping_priority")(spark, sf0001))
    p3 should include("BroadcastHashJoin")
    p3 should not include "CartesianProduct"
    p3 should include regex "PushedFilters: \\[[^\\]]*LessThan\\(o_orderdate"
    val p5 = planOf(SparkEntry.queries("q219_region_volume")(spark, sf0001))
    "BroadcastHashJoin".r.findAllIn(p5).size should be >= 2
    p5 should not include "CartesianProduct"
  }

  test("ppl buckets: per-language cuts broadcast, no per-language sort (q210)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q210_ppl_buckets")(spark, sf0001))
      plan should not include "Window" // bucketing is comparison, not ntile
      plan should not include "CartesianProduct"
      plan should include("BroadcastHashJoin") // the |langs|-row cut table
    }
    graft.core.CacheRegistry.drain()
  }

  test("readability is a pure scan-stage pass - no exchange, no window, " +
    "codegen end to end (q243)") {
    val plan = planOf(SparkEntry.queries("q243_readability")(spark, sf0001))
    plan should not include "Exchange"
    plan should not include "Window"
    plan should include("*(1) Project") // the whole mart is one codegen stage
  }

  test("benford audit reduces to one 9-bucket hash-agg + broadcast total " +
    "(q242)") {
    val plan = planOf(SparkEntry.queries("q242_benford_audit")(spark, sf0001))
    plan should not include "CartesianProduct" // total rides in broadcast
    plan should not include "Exchange rangepartitioning"
    plan should include("ReadSchema: struct<l_extendedprice") // pruned scan
  }

  test("incremental mart: partial merges stay hash-keyed on the mart key, " +
    "no sort anywhere (q240)") {
    val plan = planOf(SparkEntry.queries("q240_incremental_mart")(spark, sf0001))
    plan should not include "Exchange rangepartitioning"
    plan should not include "CartesianProduct"
    plan should not include "Exchange SinglePartition"
  }

  test("kneser-ney reduces the corpus once, re-aggs run over the pair-type " +
    "table (q244)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q244_kneser_ney")(spark, sf0001))
      plan should not include "CartesianProduct" // type total is broadcast
      plan should include("InMemoryTableScan")   // pair table built once
      plan should include("TakeOrderedAndProject") // top-k, not global sort
    }
    graft.core.CacheRegistry.drain()
  }

  test("naive bayes: scoring joins the grid on the term key, no " +
    "sort-merge anywhere (q253)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q253_naive_bayes")(spark, sf0001))
      plan should not include "SortMergeJoin"
      plan should include("InMemoryTableScan") // (term,label) counts reused
    }
    graft.core.CacheRegistry.drain()
  }

  test("categorical MI reduces to one grid hash-agg with broadcast " +
    "totals (q254)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q254_categorical_mi")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should not include "Exchange rangepartitioning"
      plan should include("InMemoryTableScan") // grid built once
    }
    graft.core.CacheRegistry.drain()
  }

  test("funnel latency: one persisted first-seen reduction feeds every " +
    "pair join (q256)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q256_funnel_latency")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("InMemoryTableScan")
      plan should not include "Exchange SinglePartition"
    }
    graft.core.CacheRegistry.drain()
  }

  test("point-skip audit filters to the broadcast probe list before any " +
    "shuffle (q257)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q257_pointskip_audit")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("BroadcastHashJoin") // the probe-list join
    }
    graft.core.CacheRegistry.drain()
  }

  test("change feed: one persisted full-outer join feeds all four " +
    "branches (q258)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q258_change_feed")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("InMemoryTableScan") // the joined pair reused
      plan should include("FullOuter")
      // every join in the string is the ONE cached full-outer printed
      // once per branch reference - no branch re-joins on top of it
      "Join".r.findAllIn(plan).size shouldBe
        "FullOuter".r.findAllIn(plan).size
    }
    graft.core.CacheRegistry.drain()
  }

  test("ivm apply aggregates the FEED, not the fact - delta hash-aggs " +
    "plus one mart-key merge (q259)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q259_ivm_apply")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should not include "Exchange rangepartitioning"
      plan should not include "Exchange SinglePartition"
    }
    graft.core.CacheRegistry.drain()
  }

  test("sort-key advisor: zones come from range exchanges, the predicate " +
    "grid joins broadcast (q241)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q241_sortkey_advisor")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("BroadcastHashJoin") // probe-grid join
      // the ranked frames are persisted (range-exchange paid once per
      // candidate inside globalRank), zones re-read them from cache
      plan should include("InMemoryTableScan")
    }
    graft.core.CacheRegistry.drain()
  }

  test("rank/ECDF statistics reduce to histogram hash-aggs + windows - " +
    "no cartesian, no row-by-row join (q274/q275/q277/q281)") {
    for (q <- Seq("q274_mann_whitney", "q275_ecdf_distance",
        "q277_token_gini", "q281_sign_fdr")) {
      graft.core.CacheRegistry.scoped {
        val plan = planOf(SparkEntry.queries(q)(spark, sf0001))
        withClue(q) {
          plan should not include "CartesianProduct"
          plan should not include "BroadcastNestedLoopJoin"
        }
      }
      graft.core.CacheRegistry.drain()
    }
  }

  test("source influence: the scoring fan-out is the BROADCAST centroid " +
    "table, never a shuffled product; base scans from cache (q282)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(
        SparkEntry.queries("q282_source_influence")(spark, sf0001))
      // model-vocabulary-bounded nested loop against a broadcast side is
      // the intended shape; a shuffle cartesian would be the bug
      plan should not include "CartesianProduct"
      plan should include("BroadcastNestedLoopJoin")
      plan should include("InMemoryTableScan")
    }
    graft.core.CacheRegistry.drain()
  }

  test("watermark plan: the batch table broadcasts back over the scan " +
    "(q283)") {
    graft.core.CacheRegistry.scoped {
      val plan = planOf(SparkEntry.queries("q283_watermark_plan")(spark, sf0001))
      plan should not include "CartesianProduct"
      plan should include("BroadcastHashJoin")
    }
    graft.core.CacheRegistry.drain()
  }

  test("statistics waves never plan a shuffle cartesian - every fan-out " +
    "is a broadcast of a bounded reduction (q284-q300)") {
    for (q <- Seq("q284_conversion_ab", "q285_qte", "q286_trimmed_diff",
        "q287_holt_forecast", "q288_join_advisor", "q289_c2st",
        "q290_neyman_alloc", "q291_weighted_percentiles",
        "q292_exponential_gof", "q293_ridge", "q294_overdispersion",
        "q295_autocorrelation", "q296_simpson_check", "q298_median_ci",
        "q299_jarque_bera", "q300_effect_size")) {
      graft.core.CacheRegistry.scoped {
        withClue(q) {
          planOf(SparkEntry.queries(q)(spark, sf0001)) should
            not include "CartesianProduct"
        }
      }
      graft.core.CacheRegistry.drain()
    }
  }

  test("k-group tests, expectation suite, causal estimators, Heaps fit: " +
    "no shuffle cartesian; the fit/threshold fan-outs broadcast " +
    "(q301-q309)") {
    for (q <- Seq("q301_kendalls_w", "q302_anova_f", "q303_kruskal_wallis",
        "q304_levene_bf", "q305_expectations", "q306_heaps_law",
        "q307_did", "q308_ipw_ate", "q309_krippendorff_interval",
        "q310_wasserstein_shift", "q311_tape_mixing",
        "q312_class_weights", "q313_data_cartography",
        "q314_learning_curve", "q315_quantile_mapping",
        "q316_burrows_delta")) {
      graft.core.CacheRegistry.scoped {
        withClue(q) {
          planOf(SparkEntry.queries(q)(spark, sf0001)) should
            not include "CartesianProduct"
        }
      }
      graft.core.CacheRegistry.drain()
    }
  }

  test("confident learning, permutation test, mSPRT, RBO: no shuffle " +
    "cartesian - centroid/observed-cut fan-outs broadcast (q317-q335)") {
    for (q <- Seq("q317_label_noise", "q318_permutation_test",
        "q319_msprt", "q320_rbo", "q321_isotonic_calibration",
        "q322_active_learning", "q323_dup_modularity", "q324_l_diversity",
        "q325_cluster_safe_split", "q326_chinchilla_plan",
        "q327_knn_outliers", "q328_hill_tail", "q329_threshold_sweep",
        "q330_seasonal_decompose", "q331_lang_purity",
        "q332_markov_attribution", "q333_t_closeness", "q334_textrank",
        "q335_contrastive_pairs")) {
      graft.core.CacheRegistry.scoped {
        withClue(q) {
          planOf(SparkEntry.queries(q)(spark, sf0001)) should
            not include "CartesianProduct"
        }
      }
      graft.core.CacheRegistry.drain()
    }
  }
}
