package graft

import graft.operators.ConflationPipeline
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Driver contract (see SURVEY.md §2 for the operator ids in query names).
 *
 * Every `queries` entry is one operator family from the inventory; entries
 * with an `oracleSql` twin are verified value-for-value against DuckDB on
 * the same parquet tables. Geo/conflation entries whose semantics aren't
 * SQL-expressible get rows-only checks here plus ScalaTest oracles.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** lon/lat derivation used by the geo queries — EXACTLY mirrored in the
    * DuckDB oracles (integer modulo then double division). */
  private def geoCols(li: DataFrame): DataFrame =
    li.withColumn("lon", lit(-73.8) + col("l_orderkey") % 100 / lit(10000.0))
      .withColumn("lat", lit(42.7) + col("l_partkey") % 100 / lit(10000.0))
      .withColumn("lon2", lit(-73.8) + col("l_suppkey") % 100 / lit(10000.0))
      .withColumn("lat2", lit(42.7) + col("l_linenumber") % 100 / lit(10000.0))

  /** Flagship: the conflation pipeline end-to-end at smoke scale. */
  def entry(spark: SparkSession): DataFrame = SmokeWorld(spark).segments.toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations (A1, A3, A8) ----
    "q01_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n"))),

    "q02_count_distinct" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n_orders"),
        countDistinct("l_partkey").as("n_parts"))),

    // ---- joins (J1 three-way, J2 central, J3 anti, semi, J10) ----
    "q03_join3" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 4).as("total_bal"))),

    "q04_central_join" -> ((s, d) => t(s, d, "orders")
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))),

    "q05_left_anti" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")),

    "q06_semi" -> ((s, d) => t(s, d, "orders")
      .join(t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))),

    // ---- windows (W1 row_number, W4 lag adjacency) ----
    "q07_window_rownum" -> ((s, d) => t(s, d, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))) - 1)
      .filter(col("rn") < 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))),

    "q08_lag_collapse" -> ((s, d) => t(s, d, "orders")
      .withColumn("prev", lag("o_orderstatus", 1).over(
        Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))))
      .withColumn("chg", when(col("prev").isNull || col("prev") === col("o_orderstatus"), 0)
        .otherwise(1))
      .groupBy("o_custkey").agg(sum("chg").as("n_status_changes"),
        count(lit(1)).as("n_orders"))),

    // ---- global ordered ids (W2) ----
    "q09_global_ids" -> ((s, d) => {
      val orders = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      ConflationPipeline.withGlobalOrderedId(
        orders, Seq("o_totalprice", "o_orderkey"), "global_id")
        .select("o_orderkey", "global_id")
    }),

    // ---- top-k / argmax (O2), majority vote (A9) ----
    "q10_argmax" -> ((s, d) => t(s, d, "supplier")
      .groupBy("s_nationkey")
      .agg(max_by(col("s_name"), struct(col("s_acctbal"), col("s_suppkey"))).as("best_supplier"),
        round(max("s_acctbal"), 4).as("best_bal"))),

    "q11_mode" -> ((s, d) => {
      val counts = t(s, d, "orders").groupBy("o_custkey", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      counts.withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("cnt").desc, col("o_orderpriority"))))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderpriority").as("majority_priority"))
    }),

    // ---- set ops / dedup (U1, U5, first-writer-wins §5.1.8) ----
    "q12_union_distinct" -> ((s, d) => t(s, d, "customer").select(col("c_nationkey").as("nk"))
      .union(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
      .distinct().orderBy("nk")),

    "q13_first_writer_wins" -> ((s, d) => t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(min_by(col("o_orderkey"), struct(col("o_orderdate"), col("o_orderkey")))
        .as("first_orderkey"))),

    // ---- projections/filters with pushdown (P3, P6) ----
    "q14_filter_project" -> ((s, d) => t(s, d, "part")
      .filter(col("p_size") < 15 && col("p_type").contains("PROMO"))
      .select("p_partkey", "p_brand", "p_size")),

    // ---- geo scalar family over derived coordinates (F1-F3, F13, S9) ----
    "q15_haversine" -> ((s, d) => {
      import graft.functions.geo._
      geoCols(t(s, d, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(haversine_km(col("lon"), col("lat"), col("lon2"), col("lat2")), 9).as("dist_km"))
    }),

    "q16_tiles" -> ((s, d) => {
      import graft.functions.geo._
      geoCols(t(s, d, "lineitem"))
        .select(tile_x(col("lon"), lit(12)).as("tile_x"),
          tile_y(col("lat"), lit(12)).as("tile_y"))
        .groupBy("tile_x", "tile_y").agg(count(lit(1)).as("n"))
    }),

    "q17_geoprox_key" -> ((s, d) => {
      import graft.functions.geo._
      geoCols(t(s, d, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          geoprox_key(col("lon"), col("lat")).as("gpk"))
    }),

    "q18_final_bearing" -> ((s, d) => {
      import graft.functions.geo._
      geoCols(t(s, d, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          final_bearing(array(array(col("lon"), col("lat")),
            array(col("lon2"), col("lat2")))).as("bearing"))
        .filter(col("lon") =!= col("lon2") || col("lat") =!= col("lat2"))
    }),

    "q19_point_in_ring" -> ((s, d) => {
      import graft.functions.geo._
      // bounds placed off the derived-coordinate lattice so boundary
      // semantics can't differ between ray-casting and BETWEEN
      val ring = array(
        array(lit(-73.79995), lit(42.70005)), array(lit(-73.79505), lit(42.70005)),
        array(lit(-73.79505), lit(42.70495)), array(lit(-73.79995), lit(42.70495)),
        array(lit(-73.79995), lit(42.70005)))
      geoCols(t(s, d, "lineitem"))
        .select(point_in_ring(ring, col("lon"), col("lat")).as("inside"))
        .groupBy("inside").agg(count(lit(1)).as("n"))
    }),

    // ---- text analysis over documents (dedup, token, quality, lang, fp) ----
    "q20_dedup_exact" -> ((s, d) => t(s, d, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))),

    "q21_token_count" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .groupBy("lang").agg(sum("n_tokens").as("total_tokens"),
        count(lit(1)).as("n_docs"))),

    "q22_quality_score" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .as("n_punct"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .withColumn("punct_ratio", round(col("n_punct") / col("n_chars_m"), 6))
      .withColumn("avg_token_len", round(col("n_chars_m") / col("n_tokens"), 6))
      .select("doc_id", "n_punct", "punct_ratio", "avg_token_len")),

    "q23_fingerprint" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
          .as("fingerprint"))),

    "q24_langid" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val toks = doc.select(col("doc_id"), col("lang"),
        split(lower(col("text")), "[^a-z]+").as("words"))
      val en = Seq("the", "and", "of", "to", "in", "is", "that")
      val de = Seq("der", "die", "und", "das", "ist", "nicht", "ein")
      val es = Seq("el", "la", "de", "que", "los", "es", "una")
      // one-pass codegen'd kernel over all three stopword profiles; the
      // composed `filter(words, w.isInCollection(set))`-per-language form
      // it replaces is pinned bit-identical in TrainingOpsSpec
      toks.select(col("doc_id"), col("lang"),
          graft.functions.text.stopword_hits(col("words"),
            Seq(en, de, es)).as("h"))
        .select(col("doc_id"), col("lang"),
          col("h").getItem(0).as("en_hits"), col("h").getItem(1).as("de_hits"),
          col("h").getItem(2).as("es_hits"))
        .withColumn("pred_lang",
          when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits"), "en")
            .when(col("de_hits") >= col("es_hits"), "de").otherwise("es"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    }),

    // ---- tumbling-window event aggregation (streaming-shaped, 2.10) ----
    "q25_tumbling_window" -> ((s, d) => t(s, d, "events")
      .groupBy(window(col("ts").cast("timestamp"), "1 hour").getField("start")
        .cast("long").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))),

    // ---- dedup / similarity / ANN / kNN / multimodal ----
    "q26_minhash_lsh" -> ((s, d) =>
      graft.operators.Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text")),

    "q27_ngram_jaccard" -> ((s, d) => graft.operators.Dedup.ngramJaccardPairs(
      t(s, d, "documents"), "doc_id", "text", "source")),

    // maxHamming=3 (the Manku-et-al near-dup radius): bands are derived as
    // maxHamming+1, so candidate generation is pigeonhole-complete — the
    // DuckDB oracle brute-forces all pairs over the materialized simhash
    // table and must agree exactly.
    "q28_simhash" -> ((s, d) =>
      graft.operators.Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3)),

    "q29_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
    }),

    // graded against DuckDB brute-force exact top-k over the FULL planted
    // corpus (ground truth — the LSH blocking must actually recall the
    // planted near-duplicates, VERDICT r2 #2)
    "q30_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.lshTopK(
        emb.filter(col("vec_id") < 10), SmokeWorld.annCorpus(emb),
        "vec_id", "embedding", k = 5)
    }),

    "q31_knn_cells" -> ((s, _) => graft.operators.Knn.nearestReferences(
      SmokeWorld.knnPoints(s), SmokeWorld(s).refs, k = 3)),

    "q32_multimodal_decode" -> ((s, d) => {
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("media"))
      graft.operators.Multimodal.resizePlan(
        graft.operators.Multimodal.decodeAndExtract(media), maxSide = 128)
        .select("media_id", "width", "height", "out_width", "out_height")
    }),

    "q33_frame_sample" -> ((s, d) => {
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("media"))
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.decodeAndExtract(media), stride = 2)
        .select(col("media_id"), col("n_sampled"))
    }),

    "q34_node_ways_index" -> ((s, _) => graft.operators.Sinks.nodeToWaysIndex(
      SmokeWorld(s).segments)
      .select(col("node_id"), size(map_keys(col("ways"))).as("n_ways"))),

    // ---- conflation pipeline over the session-cached smoke world; the
    // ---- DuckDB oracles recompute the bookkeeping relationally over the
    // ---- parquet projections Verify materializes under __AUX__ ----
    "q40_conflation" -> ((s, _) =>
      SmokeWorld(s).segments.toDF()
        .select("shstReferenceId", "segmentIndex", "totalSegments",
          "startDist", "endDist", "networklevel")),

    "q41_conflation_tiles" -> ((s, _) => {
      val tiles = ConflationPipeline.tiles(SmokeWorld(s).segments, zoom = 12)
      tiles.select(col("tile_x"), col("tile_y"), col("n_segments"),
        round(col("total_km"), 6).as("total_km"), col("match_density"), col("zoom"))
    }),

    "q42_qa_summary" -> ((s, _) => {
      val h = SmokeWorld(s)
      ConflationPipeline.qaSummary(ConflationPipeline.qaReport(h.features, h.segments))
        .select(col("targetMap"), col("n_features"), col("n_matched"),
          round(col("total_input_km"), 6).as("total_input_km"),
          round(col("passing_km"), 6).as("passing_km"),
          round(col("match_rate"), 6).as("match_rate"),
          round(col("passing_ratio"), 6).as("passing_ratio"))
    }),

    // P8: the reference's reduced output projection — abbreviated per-tm
    // id/idx (composite id split on [|!], W1 conflation idx) + the RIS
    // mega-direction majority vote with micro-direction fallback
    "q43_output_projection" -> ((s, _) =>
      graft.operators.Sinks.outputProperties(SmokeWorld(s).segments)
        .select(col("shstReferenceId"), col("segmentIndex"),
          concat(col("segmentIndex"), lit(":"), col("totalSegments")).as("split_seg"),
          col("networklevel"),
          col("tmc26id"), col("tmc26idx"), col("ris26id"), col("ris26idx"),
          col("osmid"), col("osmidx"), col("dir"))),

    // J8: turn-restriction re-anchoring — from-way must END and to-way must
    // START at the via node among the raw way's split segments
    "q44_restrictions" -> ((s, _) => graft.operators.Restrictions.reanchor(
      ConflationPipeline.restrictions(s, SmokeWorld.NRoads), SmokeWorld(s).segments)),

    // S1: the reference's gzip-NDJSON front door — PERMISSIVE read drops
    // the malformed line; geometry/county gates drop the planted bad rows
    "q45_ndjson_ingest" -> ((s, _) => {
      SmokeWorld.writeNdjsonFixture(s)
      graft.sources.Sources.loadFeaturesFromGzippedNdjson(
        s, s"${SmokeWorld.auxDir}/aux_ndjson/*.txt.gz")
        .select(col("id"), col("targetMap"),
          size(col("geometry")).as("n_coords"))
    }),

    // embedding-cosine near-dup (dedup family over an embedding column):
    // LSH self-candidates + exact cosine threshold over a corpus with
    // planted perturbed duplicates
    "q46_cosine_neardup" -> ((s, d) => graft.operators.Similarity
      .cosineNearDupPairs(SmokeWorld.nearDupCorpus(
        t(s, d, "embeddings")), "vec_id", "embedding")),

    // IVF coarse-quantizer ANN (the k-means scale path beside LSH): probed
    // inverted lists exact-reranked; graded against DuckDB brute-force
    // exact top-k over the full planted corpus (ground truth)
    "q47_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Ivf.ivfTopK(
        emb.filter(col("vec_id") < 10), SmokeWorld.annCorpus(emb),
        "vec_id", "embedding", k = 5)
    }),

    // BPE-style pre-tokenizer count (GPT-2 pattern family, lookahead-free
    // so the Java and RE2 engines agree): contractions, letter runs,
    // digit runs, punctuation runs, whitespace runs
    "q48_bpe_tokens" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"), lit(0)))
          .as("n_bpe_tokens"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"))),

    // winnowing fingerprint (rolling-hash k-grams, sliding-window minima);
    // zero-shuffle HOF form (per-row array minima — no gram explode, no
    // per-doc window shuffle); the oracle recomputes the window form over
    // the materialized hash table and the equivalence spec pins the two
    "q49_winnow_fingerprint" -> ((s, d) => graft.operators.Dedup
      .winnowedFingerprintInline(t(s, d, "documents"), "doc_id", "text", k = 8, w = 4)),

    // QA bearing-delta gate over the enriched matches (45° threshold,
    // axis-folded for bidirectional matches)
    "q50_qa_bearing" -> ((s, _) =>
      ConflationPipeline.qaBearing(SmokeWorld(s).matches)),

    // S2 end-to-end through the REAL tile path: the smoke network rendered
    // as wire-format tile files, reread through the protobuf tile scans +
    // convertTileset + referencesFromTiles, then conflated — graded against
    // the SAME relational recomputation as q40 over the synth-path aux
    // tables, so any wire reader/converter corruption flips the hash
    "q51_tile_conflation" -> ((s, _) =>
      ConflationPipeline.conflate(SmokeWorld.tileRefs(s), SmokeWorld(s).matches)
        .toDF()
        .select("shstReferenceId", "segmentIndex", "totalSegments",
          "startDist", "endDist", "networklevel")),

    // S9b/MVT: the tippecanoe-analog vector-tile render, graded THROUGH the
    // encoder — each tile's gzipped MVT blob is decoded back and its density
    // layer's aggregates must equal the independent DuckDB recomputation of
    // q41 over the synth-path aux tables
    "q52_mvt_density" -> ((s, _) => {
      import s.implicits._
      graft.sources.Mvt.renderTiles(SmokeWorld(s).segments, zoom = 12)
        .select(col("tile_x"), col("tile_y"), col("tile_data"))
        .as[(Long, Long, Array[Byte])]
        .map { case (tx, ty, blob) =>
          val gz = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(blob))
          val density = graft.sources.Mvt.decode(gz.readAllBytes())
            .find(_.name == "density").get.features.head.tags
          (tx, ty, density("n_segments").asInstanceOf[Long],
            math.rint(density("total_km").asInstanceOf[Double] * 1e6) / 1e6,
            density("match_density").asInstanceOf[Long], 12)
        }
        .toDF("tile_x", "tile_y", "n_segments", "total_km", "match_density", "zoom")
    }),

    // S9d raster face: every tile's 16-bit-gray PNG is rendered from the
    // per-pixel vertex counts, then DECODED BACK — the graded statistics
    // travel through the real PNG bytes, so any encode/decode corruption
    // flips the hash; the oracle recomputes pixel binning + stats straight
    // from the raw vertex doubles (never sees an image)
    "q54_raster_tiles" -> ((s, _) =>
      graft.sources.RasterTiles.decodeStats(
        graft.sources.RasterTiles.render(SmokeWorld(s).segments, zoom = 12))
        .select(col("tile_x"), col("tile_y"), col("n_lit"),
          col("px_sum"), col("max_px"), col("zoom"))),

    // stoplights task (tasks/osm_stoplights_shapefile): raw-OSM XML fixture
    // → the real S3 scan → `grep -v null | grep signal` as an exists() over
    // the tags map. The oracle recomputes the grep relationally over the
    // GENERATOR rows (tags_json LIKE '%signal%'), never touching XML, so
    // any scan corruption flips the hash; coordinates travel unrounded
    // (Double.toString→parse is an exact round-trip)
    "q55_stoplights" -> ((s, _) =>
      graft.sources.Sources.trafficSignals(
        graft.sources.Sources.loadRawOsmNodes(s, SmokeWorld.writeOsmNodesFixture()))),

    // S8 + its inverse (bin/data_transforming/geojson_to_ndjson): the smoke
    // segments exported as a FeatureCollection envelope, then pulled back
    // apart through the multiLine scan — the graded rows travel through the
    // real single-file GeoJSON bytes; the oracle recomputes the projected
    // properties relationally from aux_segments and never sees JSON
    "q56_fc_roundtrip" -> ((s, _) => {
      val path = s"${SmokeWorld.auxDir}/tmp_geojson_fc"
      graft.operators.Sinks.geojsonFeatureCollection(SmokeWorld(s).segments, path)
      val feature = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("properties",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("split_seg",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("networklevel",
              org.apache.spark.sql.types.DoubleType)))),
        org.apache.spark.sql.types.StructField("geometry",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("coordinates",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.DoubleType))))))))
      graft.sources.Sources.loadFeatureCollection(s, path, feature)
        .select(col("properties.id").as("id"),
          col("properties.split_seg").as("split_seg"),
          col("properties.networklevel").as("networklevel"),
          size(col("geometry.coordinates")).as("n_coords"))
    }),

    // T2 (bin/data_transforming/createConflationMapShapefile): the
    // conflation output through a REAL multi-attribute shapefile — DBF
    // field names spec-truncated to 10 chars (networklevel → networklev,
    // the rename the reference performs with sed), numeric attributes as
    // Double.toString so the read-back cast recovers the exact double, and
    // geometry doubles travel as .shp binary. The oracle recomputes the
    // projection relationally from aux_segments and never sees the files.
    "q57_conflation_shapefile" -> ((s, _) => {
      val dir = s"${SmokeWorld.auxDir}/tmp_conflation_shp"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      graft.sources.Shapefile.writeConflationShapefile(
        SmokeWorld(s).segments, s"$dir/conflation")
      graft.sources.Shapefile.read(s, dir)
        .select(col("attributes")("id").as("id"),
          col("attributes")("networklev").cast("double").as("networklevel"),
          col("attributes")("road_class").as("road_class"),
          col("attributes")("len_km").cast("double").as("len_km"),
          size(col("geometry")).as("n_coords"))
    }),

    // Snapshot-table layer (the BASELINE's Iceberg analog, SnapTable):
    // the fixture commits the documents table in two snapshots; the query
    // reads the CURRENT snapshot, TIME-TRAVELS to v1, and runs a
    // manifest-pruned range scan — three reads whose aggregates DuckDB
    // recomputes from the raw documents table, so a broken manifest, a
    // time-travel leak (v2 rows visible at v1), or an over-eager file prune
    // each flip a row
    "q58_snapshot_table" -> ((s, d) => {
      val root = SmokeWorld.snapTableFixture(s, d)
      def summarize(df: DataFrame, tag: String): DataFrame =
        df.agg(count(lit(1)).cast("long").as("n"),
            sum("doc_id").cast("long").as("sum_id"),
            sum("n_chars").cast("long").as("sum_chars"))
          .select(lit(tag).as("snap"), col("n"), col("sum_id"), col("sum_chars"))
      summarize(graft.sources.SnapTable.scan(s, root, asOf = Some(1)), "v1")
        .unionAll(summarize(graft.sources.SnapTable.scan(s, root), "v2"))
        .unionAll(summarize(
          graft.sources.SnapTable.scanRange(s, root, "doc_id", "0", "100"),
          "v2_pruned"))
    }),

    // S6: the tile scraper, end-to-end over a REAL wire-format tileset
    // served via file:// (the http(s) path is the same java.net.URL code) —
    // zoom-12 vertex cover, diff against the seeded destination listing,
    // then an actual distributed fetch; the oracle recomputes cover, seeded
    // diff, and each tile's fetched/absent status from the aux vertex and
    // tileset-listing tables
    "q53_tile_scrape" -> ((s, _) => {
      val (tiles, dest) = SmokeWorld.scrapeDestReset(s)
      graft.sources.TileScraper.scrape(
        graft.sources.TileScraper.coverTiles(SmokeWorld(s).features.toDF()),
        s"file://$tiles", dest)
        .select(col("tile_id"), col("status"))
    }),

    // near-dup cluster resolution: MinHash pairs → connected components →
    // keep-one-per-cluster over the FULL corpus. The oracle recomputes the
    // pair graph from scratch (brute-force Jaccard, like q26) and the
    // transitive closure with a recursive CTE, so both the pair recall AND
    // the label-propagation fixpoint are graded against ground truth
    // computed in collapsed form (components over the representative graph
    // + member-map join) — byte-identical to the expanded
    // nearDupKeepers(minhashLshPairs(...)) per the nearDupKeepersCollapsed
    // equivalence argument, pinned in DedupSpec; the within-group pair
    // expansion never materializes
    "q59_dedup_components" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (repPairs, members) =
        graft.operators.Dedup.minhashLshPairsCollapsed(docs, "doc_id", "text")
      graft.operators.Dedup.nearDupKeepersCollapsed(docs, "doc_id",
        repPairs, members)
    }),

    // same resolution through the diameter-proof star-contraction labeler
    // (Kiveris et al. SoCC 2014) — identical ground-truth oracle, so BOTH
    // component algorithms are driver-graded, not just spec'd
    "q60_components_star" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (repPairs, members) =
        graft.operators.Dedup.minhashLshPairsCollapsed(docs, "doc_id", "text")
      graft.operators.Dedup.nearDupKeepersCollapsed(docs, "doc_id",
        repPairs, members,
        algo = graft.operators.Dedup.componentsStar(_, _, _))
    }),

    // q60's labeler on the durable fixpoint store, through the same
    // ground-truth closure: every contraction round commits as an atomic
    // snapshot and the loop resumes from durable state (Fixpoint.Durable;
    // the state table is reset per run so the driver grades a full fixpoint)
    "q67_components_resumable" -> ((s, d) => {
      val root = s"${SmokeWorld.auxDir}/tmp_star_state"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val docs = t(s, d, "documents")
      val (repPairs, members) =
        graft.operators.Dedup.minhashLshPairsCollapsed(docs, "doc_id", "text")
      graft.operators.Dedup.nearDupKeepersCollapsed(docs, "doc_id",
        repPairs, members,
        algo = graft.operators.Dedup.componentsStar(_, _, _,
          store = graft.operators.Fixpoint.Durable(root)))
    }),

    // html → text extraction (north-star invariant: byte-identical extracted
    // text per url). The fixture wraps each document's text in a page with a
    // script block (containing a raw '<'), a style block, a comment, and
    // entity-escaped text, renders it to BINARY utf-8 — the input_hint's
    // html:binary shape — and the single-pass html_text kernel must recover
    // the text EXACTLY. The oracle rebuilds the same page in DuckDB and
    // strips it with the composed regexp/replace chain, so both the
    // extraction semantics and the byte-identity flag are ground-truth-graded
    "q61_html_extract" -> ((s, d) => {
      import graft.functions.text.html_text
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val page = concat(
        lit("<html><head><script type=\"text/javascript\">if (1 < 2) { s = \"&x\"; }</script>"),
        lit("<style>p > em { color: red }</style><!-- doc "),
        col("doc_id").cast("string"),
        lit(" --></head><body><h1 class=\"t\">"), esc,
        lit("</h1></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), encode(page, "UTF-8").as("html"))
        .select(col("doc_id"), html_text(col("html")).as("text_x"),
          (html_text(col("html")) === col("text")).as("ok"))
    }),

    // deterministic train/val/test holdout: md5-bucketed, zero-shuffle pure
    // projection — split membership is a function of the key alone, so
    // reruns, resumes, and backfills assign every document identically
    "q62_hash_split" -> ((s, d) =>
      graft.operators.TrainingSplits.hashSplit(
        t(s, d, "documents"),
        concat_ws("|", col("source"), col("doc_id").cast("string")),
        Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("bucket"), col("split"))),

    // stratified top-k per language in md5 order — the salted two-level
    // window plan (no single-task stratum) must equal the oracle's straight
    // one-window SQL form exactly
    "q63_stratified_sample" -> ((s, d) =>
      graft.operators.TrainingSplits.stratifiedSample(
        t(s, d, "documents"), Seq("lang"),
        concat_ws("|", col("source"), col("doc_id").cast("string")), k = 25)
        .select(col("lang"), col("doc_id"), col("rn"))),

    // next-fit sequence packing into 512-token bins within 8 md5 shards;
    // the oracle replays the sequential packing state machine per shard
    // with a recursive CTE over the same md5 ordering
    "q64_sequence_pack" -> ((s, d) =>
      graft.operators.TrainingSplits.packSequences(
        t(s, d, "documents"),
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")),
        capacity = 512, nShards = 8)),

    // deterministic mixture rebalance: per-source keep rates decided by the
    // row's md5 bucket — zero-shuffle, rerun-stable, and monotone in the
    // rate (raising a source's weight only adds documents)
    "q65_mixture_sample" -> ((s, d) =>
      graft.operators.TrainingSplits.mixtureSample(
        t(s, d, "documents"),
        concat_ws("|", col("source"), col("doc_id").cast("string")),
        col("source"),
        Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 1.0),
        defaultRate = 0.5)
        .select(col("doc_id"), col("source"))),

    // PII redaction over planted emails/IPs/phones appended to each
    // document; the oracle rebuilds the identical plant and applies the
    // same RE2∩Java-dialect patterns in DuckDB
    "q66_redact_pii" -> ((s, d) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, d, "documents")
        .select(col("doc_id"), planted.as("txt_full"))
        .select(col("doc_id"),
          graft.functions.text.redact_pii(col("txt_full")).as("red"),
          (length(col("txt_full")) - length(graft.functions.text.redact_pii(col("txt_full"))))
            .as("shrunk"))
    }),

    // WARC container round-trip (ISO 28500, the format Common-Crawl-style
    // corpora arrive in): each document rendered to an html page, written
    // out as REAL .warc.gz bytes (gzip member per record, warcinfo lead,
    // HTTP response payload envelope), read back through the streaming
    // scan, and projected. The oracle recomputes everything relationally
    // from the raw documents table and never sees the files — any
    // corruption in the container leg flips the hash (q56/q57 pattern).
    "q68_warc_roundtrip" -> ((s, d) => {
      val path = s"${SmokeWorld.auxDir}/tmp_warc"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val page = concat(lit("<html><body><h1>doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"), lit("</p></body></html>"))
      val pages = t(s, d, "documents").select(
        concat(lit("https://example.test/doc/"), col("doc_id").cast("string")).as("url"),
        (lit(1735689600L) + col("doc_id") % 86400).cast("timestamp").as("warc_ts"),
        encode(page, "UTF-8").as("html"))
      graft.sources.Warc.writePages(pages.repartition(4, col("url")), path)
      graft.sources.Warc.readPages(s, path)
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          unix_timestamp(col("warc_ts")).as("warc_epoch"),
          decode(col("html"), "UTF-8").as("page"),
          length(col("html")).as("n_bytes"))
    }),

    // Gopher-style repetition quality gates (Rae et al. 2021 §A1.1):
    // duplicate-line fraction, duplicate-line CHAR fraction (pure per-row
    // array expressions, zero shuffle) + the per-document top-2-gram mode
    // (explode → partial-agg groupBy → max_by, both shuffles keyed by
    // doc/gram — no hot key at any document size)
    "q69_repetition_stats" -> ((s, d) =>
      graft.operators.TextQuality.repetitionStats(t(s, d, "documents"), "doc_id", "text")),

    // benchmark decontamination: training docs sharing any word 4-gram
    // with the eval slice (doc_id % 101 == 0). The eval gram set is tiny
    // by construction → explicit broadcast; the corpus side is one
    // map-side semi-join on its exploded grams
    "q70_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TextQuality.decontaminate(
        docs.where(col("doc_id") % 101 =!= 0),
        docs.where(col("doc_id") % 101 === 0),
        "doc_id", "text", n = 4)
    }),

    // URL canonicalization + registrable domain: messy urls synthesized
    // deterministically from doc_id (scheme case, www, default port,
    // fragment, trailing slash, multi-label TLDs), normalized by the pure
    // zero-shuffle string kernel; the oracle rebuilds the same urls and
    // mirrors every regex in the RE2 ∩ Java dialect
    "q71_url_canonical" -> ((s, d) => {
      import graft.operators.TextQuality
      val id = col("doc_id")
      val raw = concat(
        when(id % 2 === 0, "https").otherwise("HTTPS"), lit("://"),
        when(id % 3 === 0, "www.").otherwise(""),
        when(id % 5 === 0, "News").otherwise(concat(lit("site"), (id % 7).cast("string"))),
        lit("."),
        when(id % 4 === 0, "com").when(id % 4 === 1, "co.uk")
          .when(id % 4 === 2, "org").otherwise("de"),
        when(id % 11 === 0, ":443").otherwise(""),
        lit("/p/"), id.cast("string"),
        when(id % 6 === 0, "/").otherwise(""),
        when(id % 9 === 0, "#s").otherwise(""))
      t(s, d, "documents")
        .select(id, raw.as("raw_url"))
        .select(id, col("raw_url"),
          TextQuality.canonicalUrl(col("raw_url")).as("canon"),
          TextQuality.registrableDomain(col("raw_url")).as("domain"))
    }),

    // CDX-indexed WARC random access: the archive is written with a
    // same-pass (file, offset, length) index — gzip-member framing makes
    // every record one-seek addressable — and read back ENTIRELY through
    // distributed point reads (seek → gunzip one member → parse one
    // record). The oracle recomputes everything from the raw table; a
    // wrong offset, length, or surt key anywhere flips the hash.
    "q72_warc_cdx" -> ((s, d) => {
      val path = s"${SmokeWorld.auxDir}/tmp_warc_cdx"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val page = concat(lit("<html><body><h1>doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"), lit("</p></body></html>"))
      val pages = t(s, d, "documents").select(
        concat(lit("https://example.test/doc/"), col("doc_id").cast("string")).as("url"),
        (lit(1735689600L) + col("doc_id") % 86400).cast("timestamp").as("warc_ts"),
        encode(page, "UTF-8").as("html"))
      graft.sources.Warc.writePagesIndexed(pages.repartition(4, col("url")), path)
      graft.sources.Warc.readViaIndex(s, path)
        .join(graft.sources.Warc.readIndex(s, path).select("url", "surt"), Seq("url"))
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("surt"),
          unix_timestamp(col("warc_ts")).as("warc_epoch"),
          decode(col("html"), "UTF-8").as("page"),
          length(col("html")).as("n_bytes"))
    }),

    // continuous-ingest composition: the same archive consumed by the
    // STREAMING path (binaryFile landing dir → Warc kernel → one atomic
    // SnapTable commit per micro-batch, file ledger in the snapshot
    // summary) and graded through the snapshot-isolated scan. Streaming
    // checkpointing, the snapshot table, and the WARC parser all sit under
    // one oracle row.
    "q73_warc_ingest_stream" -> ((s, d) => {
      val landing = s"${SmokeWorld.auxDir}/tmp_warc_landing"
      val root = s"${SmokeWorld.auxDir}/tmp_warc_snaptab"
      val ckpt = s"${SmokeWorld.auxDir}/tmp_warc_ckpt"
      Seq(landing, root, ckpt).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      val page = concat(lit("<html><body><h1>doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"), lit("</p></body></html>"))
      val pages = t(s, d, "documents").select(
        concat(lit("https://example.test/doc/"), col("doc_id").cast("string")).as("url"),
        (lit(1735689600L) + col("doc_id") % 86400).cast("timestamp").as("warc_ts"),
        encode(page, "UTF-8").as("html"))
      graft.sources.Warc.writePages(pages.repartition(4, col("url")), landing)
      graft.streaming.StreamingOps.warcIngestToSnap(s, landing, root, ckpt)
        .awaitTermination()
      graft.sources.SnapTable.scan(s, root)
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          unix_timestamp(col("warc_ts")).as("warc_epoch"),
          decode(col("html"), "UTF-8").as("page"),
          length(col("html")).as("n_bytes"))
    }),

    // corpus-wide LINE-level exact dedup (CCNet/Gopher preprocessing):
    // multi-line pages are planted deterministically — a boilerplate line
    // in EVERY doc, a per-(doc_id%7) footer, a within-doc repeat — then
    // every line keeps only its globally-first (doc, position) occurrence.
    // min(struct) grouped by the line partial-aggregates map-side, so the
    // corpus-wide boilerplate line is NOT a hot key (no window over line)
    "q74_line_dedup" -> ((s, d) => {
      val id = col("doc_id")
      val uniq = concat(lit("doc "), id.cast("string"), lit(" says "),
        substring(col("text"), 1, 30))
      val page = concat_ws(". ",
        lit("subscribe to our newsletter"),
        concat(lit("footer of site "), (id % 7).cast("string")),
        uniq, uniq,
        concat(lit("contact doc "), id.cast("string")))
      graft.operators.Dedup.lineDedup(
        t(s, d, "documents").select(id, page.as("text")), "doc_id", "text")
    }),

    // CCNet-style LM quality scoring: add-one-smoothed bigram model
    // trained on the reference slice (doc_id % 101 == 0 — the same split
    // q70 uses for eval), every other document scored by per-token
    // negative log-likelihood. Model tables broadcast (reference corpora
    // are bounded); the corpus side is one doc+gram-keyed aggregation —
    // no gram-keyed shuffle of the crawl
    "q75_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TextQuality.lmScore(
        docs.where(col("doc_id") % 101 =!= 0),
        docs.where(col("doc_id") % 101 === 0),
        "doc_id", "text")
    }),

    // BM25 inverted-index search: probe queries are the first 3 words of
    // each reference-slice doc; the whole corpus is the index. Query terms
    // + per-term df broadcast, postings reduced map-side, top-5 per query
    // through the salted two-level window (hot-query-proof, exact)
    "q76_bm25_search" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = filter(split(lower(col("text")), "[^a-z]+"), x => x =!= "")
      val queries = docs.where(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(w, 1, 3)).as("qtext"))
      graft.operators.Search.bm25TopK(
        docs, queries, "doc_id", "text", "query_id", "qtext", k = 5)
    }),

    // incremental dedup of a planted "next crawl" against the prior
    // corpus's signature SNAPSHOT (monthly-Common-Crawl shape: old text is
    // never re-shingled; signatures travel through a real SnapTable
    // commit+scan, so the snapshot layer is in the graded path). Four
    // planted families: exact copies of old docs (%10==0), near copies
    // with an appended tail (%10==1), fresh pages (%10==2), and an
    // intra-new boilerplate group (%10==3). The oracle replays all three
    // dedup layers relationally — exact md5, exact-within-new, and
    // brute-force 5-shingle Jaccard vs ALL old docs (q26-style ground
    // truth: LSH recall is graded, not assumed)
    "q77_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val old = docs.select(col("doc_id"), col("text"))
      val id = col("doc_id")
      val newDocs = old.where(id % 10 === 0)
          .select((id + 1000000L).as("doc_id"), col("text"))
        .unionAll(old.where(id % 10 === 1)
          .select((id + 1000000L).as("doc_id"),
            concat(col("text"), lit(" incremental crawl tail marker")).as("text")))
        .unionAll(old.where(id % 10 === 2)
          .select((id + 1000000L).as("doc_id"),
            concat(lit("fresh page "), id.cast("string"),
              lit(" about entirely new topics")).as("text")))
        .unionAll(old.where(id % 10 === 3)
          .select((id + 1000000L).as("doc_id"),
            lit("shared boilerplate page body").as("text")))
      val root = s"${SmokeWorld.auxDir}/tmp_incdedup_sigs"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      graft.sources.SnapTable.append(
        graft.operators.Dedup.signatureTable(old, "doc_id", "text"), root)
      graft.operators.Dedup.incrementalDedup(
        newDocs, graft.sources.SnapTable.scan(s, root), old, "doc_id", "text")
    }),

    // host-graph PageRank — the crawl-curation quality prior. The host
    // link graph is synthesized deterministically from doc_ids (host =
    // doc_id % 97; three arithmetic outlink rules), mirrored verbatim in
    // the oracle. Ranks are BIGINT micro-units with floored divisions, so
    // the DuckDB replay (the power iteration unrolled as 10 chained CTEs)
    // grades every host's rank EXACTLY — no float tolerance
    "q78_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      def e(m: Long, a: Long) = docs.select(
        (col("doc_id") % 97).as("src"),
        ((col("doc_id") * m + a) % 97).as("dst"))
      graft.operators.WebGraph.pageRank(
        e(7L, 1L).unionAll(e(13L, 3L)).unionAll(e(31L, 5L)),
        "src", "dst", iters = 10)
        .select(col("node").as("host_id"), col("rank").as("rank_micro"))
    }),

    // ExactSubstr-style repeated-span detection (Lee et al. 2021): a
    // 12-word passage is planted at the end (%4==0), the start (%4==1),
    // and doubled mid-page (%4==3, exercising intra-document repeats);
    // %4==2 pages carry only their own text. Output = maximal merged
    // spans of word-8-gram repeats, positions graded exactly
    "q79_repeated_spans" -> ((s, d) => {
      val id = col("doc_id")
      val shared = lit("the quick brown fox jumps over the lazy dog again and again")
      val page = when(id % 4 === 0, concat(col("text"), lit(" "), shared))
        .when(id % 4 === 1, concat(shared, lit(" "), col("text")))
        .when(id % 4 === 3,
          concat(col("text"), lit(" "), shared, lit(" "), shared))
        .otherwise(col("text"))
      graft.operators.ExactSubstr.repeatedSpans(
        t(s, d, "documents").select(id, page.as("text")), "doc_id", "text",
        n = 8)
    }),

    // sliding token-window chunker (window 32, stride 24): every document
    // becomes overlapping model-context pieces; chunk ids, starts, sizes
    // and the chunk text itself are graded (pure integer arithmetic +
    // list slicing on both sides)
    "q80_chunk_windows" -> ((s, d) =>
      graft.operators.TrainingSplits.chunkWindows(
        t(s, d, "documents"), "doc_id", "text", window = 32, stride = 24)),

    // KMV distinct-count sketch (native TypedImperativeAggregate): per-
    // source distinct-text profile with k=16 — every source holds >16
    // distinct texts at sf>=0.01, so the ESTIMATE path is graded; the
    // per-(source,lang) grouping grades the below-k exact path and the
    // null kth sentinel. Sketch content is a pure function of the input
    // set, so DuckDB replays sketch_size, kth_hash AND est_distinct
    // exactly (same md5-prefix hash as the holdout split, pure integer
    // estimator)
    "q81_kmv_sketch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def sk(group: Seq[String]) = docs
        .groupBy(group.map(col): _*)
        .agg(graft.functions.KmvSketch.kmvDistinct(col("text"), 16).as("sk"))
        .select(
          concat_ws("|", (lit("by") +: group.map(col)): _*).as("grp"),
          col("sk.sketch_size").as("sketch_size"),
          coalesce(col("sk.kth_hash"), lit(-1L)).as("kth_hash"),
          col("sk.est_distinct").as("est_distinct"))
      sk(Seq("source")).unionAll(sk(Seq("source", "lang")))
    }),

    // as-of join: every event matched to the profile version live at its
    // timestamp. Versions are synthesized deterministically (4 per user at
    // day boundaries offset by user_id minutes, so early events genuinely
    // precede their user's first version → the null path is graded). The
    // oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — the implementation is
    // graded against a reference engine's as-of semantics, not a replay
    // of itself. Joined on epoch MICROS for sub-second parity
    "q82_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val snaps = ev.select("user_id").distinct()
        .select(col("user_id"),
          explode(sequence(lit(0L), lit(3L))).as("version"))
        .select(col("user_id"), col("version"),
          ((lit(1704067200L) + col("version") * 86400L +
            col("user_id") * 60L) * 1000000L).as("snap_us"),
          (col("user_id") * 10L + col("version")).as("score"))
      graft.operators.AsOf.asofJoin(
        ev, snaps, Seq("user_id"), "ts_us", "snap_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("version"), lit(-1L)).as("version"),
          coalesce(col("score"), lit(-1L)).as("score"))
    }),

    // count-min heavy-hitter sketch (native TypedImperativeAggregate #2 —
    // elementwise-add merge, fixed 4×512 buffer): corpus word counts
    // sketched in 16 KB, probed with doc 0's vocabulary. Every counter is
    // an exact integer sum over md5-slice buckets, so DuckDB replays the
    // whole sketch and every estimate value-for-value; true counts ride
    // along to grade the (always non-negative) overestimate
    "q83_cms_heavy_hitters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toWords(c: Column) =
        filter(split(lower(c), "[^a-z0-9]+"), w => w =!= "")
      val words = docs.select(explode(toWords(col("text"))).as("w"))
      val sketch = words
        .agg(graft.functions.CountMin.countMin(col("w"), 4, 512).as("sk"))
      val probes = docs.where(col("doc_id") === 0)
        .select(explode(array_distinct(toWords(col("text")))).as("probe"))
      val truth = words.groupBy("w").agg(count(lit(1)).as("true_count"))
      probes.crossJoin(broadcast(sketch))
        .select(col("probe"),
          graft.functions.CountMin.probe(col("sk"), col("probe"), 4, 512)
            .as("est_count"))
        .join(truth, col("probe") === col("w"))
        .select(col("probe"), col("est_count"), col("true_count"),
          (col("est_count") - col("true_count")).as("overestimate"))
    }),

    // bloom-filter pruning (native TypedImperativeAggregate #3 — bitwise-
    // OR merge, the shuffle-avoidance archetype): the even-doc_id half is
    // the "prior crawl", its texts aggregated into ONE broadcast 1024-bit
    // bloom; every candidate is probed by a codegen'd expression. m is
    // deliberately small so the FALSE-POSITIVE sliver exists at sf0.01
    // and is graded too: the bit set is a pure function of the seen set
    // (double hashing over two disjoint md5 60-bit slices), so DuckDB
    // replays every probe verdict — and truly_seen rides along to grade
    // the no-false-negative guarantee (truly_seen=1 → bloom_hit=1)
    "q84_bloom_prune" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val seen = docs.where(col("doc_id") % 2 === 0).select(col("text").as("k"))
      val sketch = seen.agg(
        graft.functions.Bloom.bloomBuild(col("k"), 1024, 2).as("bf"))
      val probed = docs.crossJoin(broadcast(sketch))
        .select(col("doc_id"), col("text"),
          graft.functions.Bloom.mightContain(col("bf"), col("text"), 1024, 2)
            .cast("long").as("bloom_hit"))
      probed.join(seen.distinct(), col("text") === col("k"), "left_outer")
        .select(col("doc_id"), col("bloom_hit"),
          when(col("k").isNull, 0L).otherwise(1L).as("truly_seen"))
    }),

    // Z-order layout key: the Morton interleave graded bit-for-bit on
    // every row (integer cell coords so both engines compute on exact
    // values), plus the prefix block a range-partitioned writer would
    // cluster files by. A pure projection — the layout op adds ZERO
    // shuffle beyond the range partitioning the caller already pays for
    // a sorted write; ZorderSpec holds the locality/pruning evidence
    "q85_zorder_layout" -> ((s, d) => {
      import graft.functions.geo._
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_orderkey") % 32).as("x"), (col("l_partkey") % 32).as("y"))
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          morton_key(col("x"), col("y"), 5).as("zkey"))
        .withColumn("zblock", shiftright(col("zkey"), 6))
    }),

    // KMV sketch ALGEBRA (Beyer et al., SIGMOD 2007): cross-source
    // vocabulary overlap computed entirely from the per-source sketches —
    // union = bottom-k of the two hash sets' union, Jaccard = the share
    // of the union-bottom-k present in BOTH. The corpus is touched once
    // (one sketch build); every pair combine is arithmetic over two ≤k
    // arrays — at 10^6 sources that is the difference between a combine
    // over 16-long arrays and re-scanning 10^12 pages per pair. The
    // OUTPUT is inherently O(S²) pairs; KmvSketch.pairOverlap (the graded
    // code path here) carries the pair-budget contract — a candidate-pair
    // table and/or maxPairs cap — for 10^6-source use. Outputs are the
    // raw algebra stats plus jaccard in basis points (integer div), all
    // exactly replayed relationally by DuckDB
    "q86_kmv_set_algebra" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toWords(c: Column) =
        filter(split(lower(c), "[^a-z0-9]+"), w => w =!= "")
      val sk = docs
        .select(col("source"), explode(toWords(col("text"))).as("w"))
        .groupBy("source")
        .agg(graft.functions.KmvSketch.kmvDistinct(col("w"), 16).as("sk"))
        .select(col("source"), col("sk.hashes").as("hs"))
      graft.functions.KmvSketch.pairOverlap(sk, "source", "hs", 16)
    }),

    // weighted priority sampling (Duffield et al. JACM 2007): 5 docs per
    // source, inclusion probability scaling with n_chars — the quality-
    // weighted mixture draw q63's unweighted order can't express. The
    // priority is u/w over a fixed md5 uniform: IEEE double conversion +
    // one exactly-rounded division, so the ORDER replays bit-identically
    // in DuckDB and the salted two-level plan is graded against the naive
    // window form
    "q87_priority_sample" -> ((s, d) =>
      graft.operators.TrainingSplits.prioritySample(
        t(s, d, "documents"), Seq("source"), col("doc_id"), col("n_chars"), 5)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))),

    // z-order clustered compaction on the snapshot-table layer: pages with
    // cell coords land as two row-order appends (worst layout), are
    // rewritten by compactZorder (range-partition + sort on the morton
    // key, min/max stats on BOTH coords), and the graded rows travel
    // through the MANIFEST-PRUNED bbox scan — a pruning bug that loses a
    // file flips the oracle. The layout EFFECT (files actually skipped on
    // both dimensions) is asserted in SnapTableSpec
    "q88_zorder_compact" -> ((s, d) => {
      val root = s"${SmokeWorld.auxDir}/tmp_zorder_snaptab"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val pts = t(s, d, "documents").select(col("doc_id"),
        (col("doc_id") % 32).as("x"), ((col("doc_id") * 7) % 32).as("y"))
      graft.sources.SnapTable.append(
        pts.where(col("doc_id") % 2 === 0).repartition(4), root)
      graft.sources.SnapTable.append(
        pts.where(col("doc_id") % 2 === 1).repartition(4), root)
      graft.sources.SnapTable.compactZorder(s, root, "x", "y",
        bits = 5, targetFiles = 16)
      graft.sources.SnapTable.scanRange(s, root, "x", "8", "11")
        .select("doc_id", "x", "y")
    }),

    // sessionization (gaps-and-islands, 8h inactivity gap over ~150
    // users): per-key lag + running boundary sum, the inherently
    // sequential-per-key op whose window partitions are bounded by one
    // key's event count; boundary rule is end-exclusive (>= gap) to
    // match Spark's native session_window, whose streaming twin
    // SessionsSpec pins against this batch form
    "q89_sessionize" -> ((s, d) =>
      graft.operators.Sessions.summarize(
        t(s, d, "events"), "user_id", "ts", "event_id", gapSec = 28800L)
        .select(col("user_id"), col("session_index"),
          col("session_start"), col("session_end"), col("n_events"),
          col("duration_us"))),

    // log-histogram quantile sketch (mergeable-sketch archetype #4 —
    // fixed 65-counter buffer, elementwise merge): p50/p90/p99 document
    // length per source in 520 bytes of state per group. Buckets are bit
    // lengths and the estimate is the first bucket's upper bound at rank
    // ceil(q·n) — pure integer arithmetic, so DuckDB replays every
    // estimate from `length(printf('%b', v))` exactly
    "q90_hist_quantiles" -> ((s, d) => {
      import graft.functions.HistSketch
      t(s, d, "documents").groupBy("source")
        .agg(HistSketch.histSketch(col("n_chars")).as("sk"))
        .select(col("source"),
          aggregate(col("sk"), lit(0L), (a, x) => a + x).as("n"),
          HistSketch.quantile(col("sk"), 0.5).as("p50_ub"),
          HistSketch.quantile(col("sk"), 0.9).as("p90_ub"),
          HistSketch.quantile(col("sk"), 0.99).as("p99_ub"))
    }),

    // the REAL image codec under the relational oracle (the q54
    // construction applied to javax.imageio): solid-color PNG/BMP bytes
    // rendered per doc_id by the real imageio WRITERS, decoded back by
    // ImageIoCodec (the real READER path q32's FakeCodec twin doesn't
    // touch), with an undecodable payload planted every 5th id to grade
    // the sentinel row. Dimensions/channels/format/frames are exact id
    // arithmetic; per-channel means are one exactly-rounded IEEE division
    // (r/255) in both engines, so the floats grade value-for-value
    "q91_imageio_decode" -> ((s, d) => {
      import graft.operators.Multimodal
      val media = Multimodal.renderSolidImages(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Multimodal.decodeAndExtract(media, () => new Multimodal.ImageIoCodec())
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          col("n_frames"), col("format"),
          element_at(col("feature"), 1).as("r_mean"),
          element_at(col("feature"), 2).as("g_mean"),
          element_at(col("feature"), 3).as("b_mean"),
          element_at(col("feature"), 4).as("a_mean"))
    })
  )

  /** q78's oracle: the fixed-point power iteration unrolled as chained
    * CTEs (DuckDB disallows aggregation over a recursive reference, and
    * the iteration count is fixed anyway). Kept in code so the iteration
    * count and damping constants can never drift from [[queries]]. */
  private def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH docs AS (SELECT doc_id FROM documents),
        |raw AS (
        | SELECT doc_id % 97 AS src, (doc_id*7+1) % 97 AS dst FROM docs
        | UNION ALL SELECT doc_id % 97, (doc_id*13+3) % 97 FROM docs
        | UNION ALL SELECT doc_id % 97, (doc_id*31+5) % 97 FROM docs),
        |edges AS (SELECT DISTINCT src, dst FROM raw WHERE src != dst),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
        .stripMargin
    val its = (1 to iters).map { i =>
      // sum(BIGINT) is HUGEINT in DuckDB — cast back so the rank column
      // stays BIGINT end-to-end (the driver compare is dtype-sensitive)
      s"""r$i AS (SELECT n.node,
         | CAST((15000000 + 85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst, sum(r.rank // d.outdeg) AS s
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |  JOIN deg d ON d.src = e.src GROUP BY 1) c ON c.dst = n.node)"""
        .stripMargin
    }.mkString(",\n")
    s"$head,\n$its\nSELECT node AS host_id, rank AS rank_micro FROM r$iters"
  }

  def oracleSql: Map[String, String] = Map(
    "q78_pagerank" -> pageRankOracleSql(10),

    // identical planted pages, identical tokenization, identical
    // gaps-and-islands merge (break when the gap between flagged 8-gram
    // starts exceeds 8)
    "q79_repeated_spans" ->
      """WITH base AS (SELECT doc_id,
        | CASE WHEN doc_id % 4 = 0
        |   THEN text || ' the quick brown fox jumps over the lazy dog again and again'
        |  WHEN doc_id % 4 = 1
        |   THEN 'the quick brown fox jumps over the lazy dog again and again ' || text
        |  WHEN doc_id % 4 = 3
        |   THEN text || ' the quick brown fox jumps over the lazy dog again and again'
        |     || ' the quick brown fox jumps over the lazy dog again and again'
        |  ELSE text END AS page
        | FROM documents),
        |w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(page), '[^a-z0-9]+'), x -> x != '') AS ws
        | FROM base),
        |g0 AS (SELECT doc_id, ws,
        |  unnest(range(1, greatest(len(ws)-7, 0)+1)) AS p FROM w),
        |g AS (SELECT doc_id, p, array_to_string(ws[p:p+7], ' ') AS gram FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |f AS (SELECT doc_id, p FROM g WHERE gram IN (SELECT gram FROM dup)),
        |b AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER
        |   (PARTITION BY doc_id ORDER BY p) > 8 THEN 1 ELSE 0 END AS brk
        | FROM f),
        |isl AS (SELECT doc_id, p,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM b)
        |SELECT doc_id, min(p) AS span_start, max(p)+7 AS span_end,
        | max(p)+7 - min(p) + 1 AS span_tokens
        |FROM isl GROUP BY doc_id, island""".stripMargin,

    "q80_chunk_windows" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
        | FROM documents),
        |n AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 0 THEN 0
        |  ELSE 1 + (greatest(len(ws) - 32, 0) + 23) // 24 END AS n_chunks FROM w),
        |k AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS k FROM n)
        |SELECT doc_id, k AS chunk_id, k*24 + 1 AS chunk_start,
        | len(ws[k*24+1:k*24+32]) AS n_tokens,
        | array_to_string(ws[k*24+1:k*24+32], ' ') AS chunk_text
        |FROM k""".stripMargin,

    // KMV sketch: same 60-bit md5-prefix hash, same bottom-16 set (dedup
    // by hash on both sides), same pure-integer estimator (k-1)*2^60//kth
    "q81_kmv_sketch" ->
      """WITH hv AS (SELECT source, lang,
        |  ('0x' || substr(md5(text),1,15))::BIGINT AS h FROM documents),
        |g1 AS (SELECT 'by|' || source AS grp, h
        |  FROM (SELECT DISTINCT source, h FROM hv)),
        |g2 AS (SELECT 'by|' || source || '|' || lang AS grp, h
        |  FROM (SELECT DISTINCT source, lang, h FROM hv)),
        |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |r AS (SELECT grp, h,
        |  row_number() OVER (PARTITION BY grp ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY grp) AS nd FROM u),
        |agg AS (SELECT grp, max(nd) AS nd,
        |  max(CASE WHEN rn = 16 THEN h END) AS kth FROM r GROUP BY grp)
        |SELECT grp, CAST(least(nd, 16) AS BIGINT) AS sketch_size,
        | coalesce(kth, -1) AS kth_hash,
        | CAST(CASE WHEN nd < 16 THEN nd
        |  ELSE (15 * CAST(1152921504606846976 AS HUGEINT)) // kth
        |  END AS BIGINT) AS est_distinct
        |FROM agg""".stripMargin,

    // as-of: DuckDB's native ASOF LEFT JOIN over the identically
    // synthesized version history
    "q82_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |snaps AS (SELECT user_id, CAST(v AS BIGINT) AS version,
        |  (1704067200 + v*86400 + user_id*60) * 1000000 AS snap_us,
        |  user_id*10 + v AS score
        | FROM (SELECT DISTINCT user_id FROM ev), unnest([0,1,2,3]) AS t(v))
        |SELECT e.event_id, e.user_id, e.ts_us,
        | coalesce(s.version, -1) AS version,
        | coalesce(s.score, -1) AS score
        |FROM ev e ASOF LEFT JOIN snaps s
        | ON e.user_id = s.user_id AND e.ts_us >= s.snap_us""".stripMargin,

    // count-min: identical md5-slice buckets, counters as exact sums, the
    // estimate as the min over the 4 rows — replayed relationally
    "q83_cms_heavy_hitters" ->
      """WITH ws AS (SELECT unnest(list_filter(
        |   regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')) AS w
        | FROM documents),
        |probes AS (SELECT DISTINCT unnest(list_filter(
        |   regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')) AS probe
        | FROM documents WHERE doc_id = 0),
        |rj AS (SELECT r FROM unnest([0,1,2,3]) AS t(r)),
        |buckets AS (SELECT r, ('0x' || substr(md5(w), 1+8*r, 8))::BIGINT % 512 AS b,
        |  count(*) AS c FROM ws, rj GROUP BY 1, 2),
        |pb AS (SELECT probe, r,
        |  ('0x' || substr(md5(probe), 1+8*r, 8))::BIGINT % 512 AS b
        | FROM probes, rj),
        |est AS (SELECT p.probe, min(bk.c) AS est_count
        | FROM pb p JOIN buckets bk ON bk.r = p.r AND bk.b = p.b GROUP BY 1),
        |truth AS (SELECT w AS probe, count(*) AS true_count FROM ws GROUP BY 1)
        |SELECT e.probe, e.est_count, t.true_count,
        | e.est_count - t.true_count AS overestimate
        |FROM est e JOIN truth t USING (probe)""".stripMargin,

    // bloom: the bit SET is replayed relationally (double hashing over the
    // same two disjoint md5 60-bit slices, m=1024, k=2); a probe hits iff
    // all its bits appear in the seen side's bit set — false positives and
    // all
    "q84_bloom_prune" ->
      """WITH seen AS (SELECT DISTINCT text AS k FROM documents
        |  WHERE doc_id % 2 = 0),
        |sh AS (SELECT ('0x'||substr(md5(k),1,15))::BIGINT % 1024 AS h1,
        |  ('0x'||substr(md5(k),17,15))::BIGINT % 1024 AS h2 FROM seen),
        |bits AS (SELECT DISTINCT (h1 + i*h2) % 1024 AS bit
        | FROM sh, unnest([0,1]) AS t(i)),
        |cand AS (SELECT doc_id, text,
        |  ('0x'||substr(md5(text),1,15))::BIGINT % 1024 AS h1,
        |  ('0x'||substr(md5(text),17,15))::BIGINT % 1024 AS h2 FROM documents),
        |cb AS (SELECT doc_id, (h1 + i*h2) % 1024 AS bit
        | FROM cand, unnest([0,1]) AS t(i)),
        |hits AS (SELECT doc_id,
        |  CAST(min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS bloom_hit
        | FROM cb LEFT JOIN bits b USING (bit) GROUP BY doc_id)
        |SELECT c.doc_id, h.bloom_hit,
        | CAST(CASE WHEN s.k IS NULL THEN 0 ELSE 1 END AS BIGINT) AS truly_seen
        |FROM cand c JOIN hits h USING (doc_id)
        |LEFT JOIN seen s ON c.text = s.k""".stripMargin,

    // morton: the identical interleave arithmetic, unrolled relationally
    // (sum over bit positions of the shifted-and-masked contributions)
    "q85_zorder_layout" ->
      """WITH pts AS (SELECT l_orderkey, l_linenumber,
        |  l_orderkey % 32 AS x, l_partkey % 32 AS y FROM lineitem),
        |z AS (SELECT l_orderkey, l_linenumber, x, y, CAST(
        |    ((x >> 0) & 1) * 1   + ((y >> 0) & 1) * 2 +
        |    ((x >> 1) & 1) * 4   + ((y >> 1) & 1) * 8 +
        |    ((x >> 2) & 1) * 16  + ((y >> 2) & 1) * 32 +
        |    ((x >> 3) & 1) * 64  + ((y >> 3) & 1) * 128 +
        |    ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512 AS BIGINT) AS zkey
        | FROM pts)
        |SELECT l_orderkey, l_linenumber, x, y, zkey, zkey >> 6 AS zblock
        |FROM z""".stripMargin,

    // kmv algebra: per-source bottom-16 word-hash sets rebuilt
    // relationally, then the identical union-bottom-k / both-membership /
    // integer-basis-point arithmetic
    "q86_kmv_set_algebra" ->
      """WITH hv AS (SELECT DISTINCT source,
        |  ('0x'||substr(md5(w),1,15))::BIGINT AS h FROM (
        |   SELECT source, unnest(list_filter(
        |     regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != ''))
        |     AS w FROM documents)),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hv),
        |sk AS (SELECT source, h FROM r WHERE rn <= 16),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (SELECT a.source AS sa, b.source AS sb
        | FROM srcs a, srcs b WHERE a.source < b.source),
        |u0 AS (SELECT DISTINCT p.sa, p.sb, s.h FROM pairs p
        | JOIN sk s ON s.source = p.sa OR s.source = p.sb),
        |u AS (SELECT sa, sb, h,
        |  row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM u0),
        |ub AS (SELECT sa, sb, h FROM u WHERE rn <= 16),
        |agg AS (SELECT u2.sa, u2.sb, count(*) AS union_k, max(u2.h) AS union_kth,
        |  sum(CASE WHEN xa.h IS NOT NULL AND xb.h IS NOT NULL
        |      THEN 1 ELSE 0 END) AS k_intersect
        | FROM ub u2
        | LEFT JOIN sk xa ON xa.source = u2.sa AND xa.h = u2.h
        | LEFT JOIN sk xb ON xb.source = u2.sb AND xb.h = u2.h
        | GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b,
        | CAST(union_k AS BIGINT) AS union_k, union_kth,
        | CAST(k_intersect AS BIGINT) AS k_intersect,
        | CAST(k_intersect * 10000 // union_k AS BIGINT) AS jaccard_bp
        |FROM agg""".stripMargin,

    // priority sampling: the naive per-stratum window over the identical
    // u/w priority (the salted Spark plan must reproduce it exactly)
    "q87_priority_sample" ->
      """WITH p AS (SELECT source, doc_id, n_chars,
        |  (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT + 1)
        |    / CAST(greatest(n_chars, 1) AS DOUBLE) AS pr
        | FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY pr, CAST(doc_id AS VARCHAR)) AS rn FROM p)
        |SELECT source, doc_id, n_chars, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 5""".stripMargin,

    // zorder compact: the snapshot/compaction/pruning plumbing is Spark's;
    // the surviving ROWS must equal the plain filter over the raw table
    "q88_zorder_compact" ->
      """SELECT doc_id, doc_id % 32 AS x, (doc_id * 7) % 32 AS y
        |FROM documents WHERE doc_id % 32 BETWEEN 8 AND 11""".stripMargin,

    // sessionize: the identical lag/boundary/running-sum replay (>= gap,
    // end-exclusive), summarized per (user, session)
    "q89_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts, us,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w >= 28800000000 THEN 1 ELSE 0 END AS b
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |x AS (SELECT user_id, ts, us,
        |  CAST(sum(b) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_index FROM s)
        |SELECT user_id, session_index,
        | min(ts) AS session_start, max(ts) AS session_end,
        | count(*) AS n_events, max(us) - min(us) AS duration_us
        |FROM x GROUP BY 1, 2""".stripMargin,

    // hist quantiles: bit-length buckets via printf('%b'), cumulative
    // counts, rank ceil(q*n) by integer //, bucket upper bound rebuilt
    // shift-safely as ((1 << (b-1)) - 1) * 2 + 1
    "q90_hist_quantiles" ->
      """WITH v AS (SELECT source, CASE WHEN n_chars <= 0 THEN 0
        |   ELSE length(printf('%b', n_chars)) END AS b FROM documents),
        |c AS (SELECT source, b, count(*) AS cnt FROM v GROUP BY 1, 2),
        |t AS (SELECT source, sum(cnt) AS n FROM c GROUP BY 1),
        |cum AS (SELECT c.source, c.b, c.cnt,
        |  sum(cnt) OVER (PARTITION BY c.source ORDER BY c.b) AS cm, t.n
        | FROM c JOIN t USING (source)),
        |est AS (SELECT source, n,
        |  min(CASE WHEN cm >= (n*5000 + 9999)//10000 THEN b END) AS b50,
        |  min(CASE WHEN cm >= (n*9000 + 9999)//10000 THEN b END) AS b90,
        |  min(CASE WHEN cm >= (n*9900 + 9999)//10000 THEN b END) AS b99
        | FROM cum GROUP BY 1, 2)
        |SELECT source, CAST(n AS BIGINT) AS n,
        | CAST(CASE WHEN b50 = 0 THEN 0
        |   ELSE ((1::BIGINT << (b50-1)) - 1) * 2 + 1 END AS BIGINT) AS p50_ub,
        | CAST(CASE WHEN b90 = 0 THEN 0
        |   ELSE ((1::BIGINT << (b90-1)) - 1) * 2 + 1 END AS BIGINT) AS p90_ub,
        | CAST(CASE WHEN b99 = 0 THEN 0
        |   ELSE ((1::BIGINT << (b99-1)) - 1) * 2 + 1 END AS BIGINT) AS p99_ub
        |FROM est""".stripMargin,

    // q91: what the real imageio decoder must recover from the rendered
    // solid-color images — exact id arithmetic for dims/format, one
    // exactly-rounded IEEE division (c/255.0 -> REAL) for channel means;
    // a_mean is 0 everywhere (TYPE_INT_RGB has no alpha; sentinel is 0s)
    "q91_imageio_decode" ->
      """SELECT doc_id AS media_id,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |   ELSE 8 + doc_id % 9 END AS INT) AS width,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |   ELSE 8 + (doc_id * 3) % 7 END AS INT) AS height,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 3 END AS INT) AS channels,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS INT) AS n_frames,
        | CASE WHEN doc_id % 5 = 0 THEN 'undecodable'
        |      WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |   ELSE (doc_id % 256) / 255.0 END AS REAL) AS r_mean,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |   ELSE ((doc_id * 7) % 256) / 255.0 END AS REAL) AS g_mean,
        | CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |   ELSE ((doc_id * 13) % 256) / 255.0 END AS REAL) AS b_mean,
        | CAST(0 AS REAL) AS a_mean
        |FROM documents""".stripMargin,

    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue, count(*) AS n
        |FROM lineitem GROUP BY 1,2""".stripMargin,

    "q02_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY 1""".stripMargin,

    "q03_join3" ->
      """SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal),4) AS total_bal
        |FROM customer JOIN nation ON c_nationkey=n_nationkey
        |JOIN region ON n_regionkey=r_regionkey GROUP BY 1,2""".stripMargin,

    "q04_central_join" ->
      """SELECT o_orderkey, o_orderstatus, count(*) AS n_lines,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey GROUP BY 1,2""".stripMargin,

    "q05_left_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""".stripMargin,

    "q06_semi" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING')
        |GROUP BY 1""".stripMargin,

    "q07_window_rownum" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)-1 AS rn
        | FROM orders) WHERE rn < 3""".stripMargin,

    "q08_lag_collapse" ->
      """SELECT o_custkey, CAST(sum(chg) AS BIGINT) AS n_status_changes, count(*) AS n_orders FROM (
        | SELECT o_custkey,
        |  CASE WHEN prev IS NULL OR prev = o_orderstatus THEN 0 ELSE 1 END AS chg
        | FROM (SELECT o_custkey, o_orderstatus,
        |   lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders)) GROUP BY 1""".stripMargin,

    "q09_global_ids" ->
      """SELECT o_orderkey,
        | row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS global_id
        |FROM orders""".stripMargin,

    "q10_argmax" ->
      """SELECT s_nationkey, best_supplier, best_bal FROM (
        | SELECT s_nationkey, s_name AS best_supplier,
        |  round(max(s_acctbal) OVER (PARTITION BY s_nationkey), 4) AS best_bal,
        |  row_number() OVER (PARTITION BY s_nationkey
        |    ORDER BY s_acctbal DESC, s_suppkey DESC) AS rn
        | FROM supplier) WHERE rn=1""".stripMargin,

    "q11_mode" ->
      """SELECT o_custkey, o_orderpriority AS majority_priority FROM (
        | SELECT o_custkey, o_orderpriority,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY count(*) DESC, o_orderpriority) AS rn
        | FROM orders GROUP BY 1,2) WHERE rn=1""".stripMargin,

    "q12_union_distinct" ->
      """SELECT DISTINCT nk FROM (
        | SELECT c_nationkey AS nk FROM customer
        | UNION ALL SELECT s_nationkey AS nk FROM supplier) ORDER BY nk""".stripMargin,

    "q13_first_writer_wins" ->
      """SELECT o_custkey, o_orderkey AS first_orderkey FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        | FROM orders) WHERE rn=1""".stripMargin,

    "q14_filter_project" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE p_size < 15 AND p_type LIKE '%PROMO%'""".stripMargin,

    "q15_haversine" ->
      """SELECT l_orderkey, l_linenumber, round(
        | 2*6371.0088*atan2(sqrt(a), sqrt(1-a)), 9) AS dist_km FROM (
        | SELECT l_orderkey, l_linenumber,
        |  sin(((lat2-lat)*pi()/180)/2)*sin(((lat2-lat)*pi()/180)/2)
        |   + cos(lat*pi()/180)*cos(lat2*pi()/180)
        |     *sin(((lon2-lon)*pi()/180)/2)*sin(((lon2-lon)*pi()/180)/2) AS a
        | FROM (SELECT l_orderkey, l_linenumber,
        |   -73.8 + (l_orderkey % 100) / 10000.0 AS lon,
        |   42.7 + (l_partkey % 100) / 10000.0 AS lat,
        |   -73.8 + (l_suppkey % 100) / 10000.0 AS lon2,
        |   42.7 + (l_linenumber % 100) / 10000.0 AS lat2 FROM lineitem))""".stripMargin,

    "q16_tiles" ->
      """SELECT tile_x, tile_y, count(*) AS n FROM (
        | SELECT cast(least(greatest(floor(((-73.8 + (l_orderkey % 100) / 10000.0)+180.0)/360.0*4096), 0), 4095) AS bigint) AS tile_x,
        |  cast(least(greatest(floor((90.0-(42.7 + (l_partkey % 100) / 10000.0))/180.0*4096), 0), 4095) AS bigint) AS tile_y
        | FROM lineitem) GROUP BY 1,2""".stripMargin,

    "q17_geoprox_key" ->
      """SELECT l_orderkey, l_linenumber,
        | concat(substr(lh,1,1),substr(ph,1,1),substr(lh,2,1),substr(ph,2,1),
        |  substr(lh,3,1),substr(ph,3,1),substr(lh,4,1),substr(ph,4,1),
        |  substr(lh,5,1),substr(ph,5,1),substr(lh,6,1),substr(ph,6,1),
        |  substr(lh,7,1),substr(ph,7,1),substr(lh,8,1),substr(ph,8,1)) AS gpk
        |FROM (SELECT l_orderkey, l_linenumber,
        |  printf('%08x', abs(cast(round((-73.8 + (l_orderkey % 100) / 10000.0)*100000,0) AS bigint))) AS lh,
        |  printf('%08x', abs(cast(round((42.7 + (l_partkey % 100) / 10000.0)*100000,0) AS bigint))) AS ph
        | FROM lineitem)""".stripMargin,

    "q18_final_bearing" ->
      """SELECT l_orderkey, l_linenumber, cast(round(
        |  ((degrees(atan2(sin((lon-lon2)*pi()/180)*cos(lat*pi()/180),
        |    cos(lat2*pi()/180)*sin(lat*pi()/180)
        |     - sin(lat2*pi()/180)*cos(lat*pi()/180)*cos((lon-lon2)*pi()/180)))
        |   + 180) % 360 + 360) % 360, 0) AS int) AS bearing
        |FROM (SELECT l_orderkey, l_linenumber,
        |  -73.8 + (l_orderkey % 100) / 10000.0 AS lon,
        |  42.7 + (l_partkey % 100) / 10000.0 AS lat,
        |  -73.8 + (l_suppkey % 100) / 10000.0 AS lon2,
        |  42.7 + (l_linenumber % 100) / 10000.0 AS lat2 FROM lineitem)
        |WHERE lon != lon2 OR lat != lat2""".stripMargin,

    "q19_point_in_ring" ->
      """SELECT (lon > -73.79995 AND lon < -73.79505 AND lat > 42.70005 AND lat < 42.70495) AS inside,
        | count(*) AS n
        |FROM (SELECT -73.8 + (l_orderkey % 100) / 10000.0 AS lon,
        |  42.7 + (l_partkey % 100) / 10000.0 AS lat FROM lineitem) GROUP BY 1""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q21_token_count" ->
      """SELECT lang, CAST(sum(len) AS BIGINT) AS total_tokens, count(*) AS n_docs FROM (
        | SELECT lang, array_length(regexp_split_to_array(trim(text), '\s+')) AS len
        | FROM documents) GROUP BY 1""".stripMargin,

    "q22_quality_score" ->
      """SELECT doc_id, n_punct, round(n_punct*1.0/n_chars_m, 6) AS punct_ratio,
        | round(n_chars_m*1.0/n_tokens, 6) AS avg_token_len FROM (
        | SELECT doc_id, length(text) AS n_chars_m,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  array_length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        | FROM documents)""".stripMargin,

    "q23_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,

    "q24_langid" ->
      """SELECT lang, pred_lang, count(*) AS n FROM (
        | SELECT lang, en_hits, de_hits, es_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
        |       WHEN de_hits >= es_hits THEN 'de' ELSE 'es' END AS pred_lang
        | FROM (
        |  SELECT doc_id, lang,
        |   length(list_filter(words, x -> list_contains(['the','and','of','to','in','is','that'], x))) AS en_hits,
        |   length(list_filter(words, x -> list_contains(['der','die','und','das','ist','nicht','ein'], x))) AS de_hits,
        |   length(list_filter(words, x -> list_contains(['el','la','de','que','los','es','una'], x))) AS es_hits
        |  FROM (SELECT doc_id, lang,
        |    regexp_split_to_array(lower(text), '[^a-z]+') AS words FROM documents)))
        |GROUP BY 1,2""".stripMargin,

    "q25_tumbling_window" ->
      """SELECT cast(epoch(date_trunc('hour', ts)) AS bigint) AS hour_start, event_type,
        | count(*) AS n, round(sum(value),4) AS total_value
        |FROM events GROUP BY 1,2""".stripMargin,

    "q26_minhash_lsh" ->
      """WITH s AS (SELECT doc_id, list_distinct(
        |   [substr(text, CAST(i AS INT), 5) for i in range(1, greatest(length(text)-4,1)+1)]) AS sh
        | FROM documents)
        |SELECT id_a, id_b, j FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))*1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
        | FROM s a JOIN s b ON a.doc_id < b.doc_id) WHERE j >= 0.7""".stripMargin,

    // df-capped Jaccard (maxDf=1000 per source partition): grams in more
    // documents are excluded from BOTH intersection and union counts
    "q27_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, source,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x != '') AS ws
        | FROM documents),
        |s AS (SELECT doc_id, source, list_distinct(
        |  [array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+2], ' ')
        |   for i in range(1, greatest(len(ws)-2,1)+1)]) AS sh FROM w),
        |ex AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |kept AS (SELECT doc_id, source, g FROM (
        |  SELECT doc_id, source, g, count(*) OVER (PARTITION BY source, g) AS df FROM ex)
        | WHERE df <= 1000),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
        |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
        | FROM kept a JOIN kept b ON a.source = b.source AND a.g = b.g
        |   AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, j FROM (
        | SELECT doc_a, doc_b, round(nc*1.0/(sa.n + sb.n - nc), 6) AS j
        | FROM c JOIN sz sa ON c.doc_a = sa.doc_id JOIN sz sb ON c.doc_b = sb.doc_id)
        |WHERE j >= 0.2""".stripMargin,

    "q29_ann_brute" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings)
        |SELECT query_id, neighbor_id, rank, sim FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   round(list_dot_product(q.v, c.v)
        |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id))
        |WHERE rank <= 5""".stripMargin,

    "q32_multimodal_decode" ->
      """SELECT media_id, width, height,
        | CAST(floor(width * scale) AS INT) AS out_width,
        | CAST(floor(height * scale) AS INT) AS out_height FROM (
        | SELECT media_id, width, height,
        |  least(1.0, 128.0 / greatest(width, height)) AS scale FROM (
        |  SELECT doc_id AS media_id,
        |   64 + (octet_length(encode(text)) % 256) AS width,
        |   64 + ((octet_length(encode(text)) * 7) % 256) AS height
        |  FROM documents))""".stripMargin,

    // ---- oracles over the Verify-materialized aux tables (__AUX__ is
    // ---- substituted with SmokeWorld.auxDir when Verify dumps the json).
    // ---- Each one INDEPENDENTLY recomputes in SQL what the Spark-side
    // ---- blocking/bookkeeping claims: simhash banding vs brute-force
    // ---- all-pairs, LSH rank vs exact cosine rank, cell-ring kNN vs the
    // ---- full distance matrix, kernel segment indices vs window
    // ---- recomputation, tiles vs the q16 math, QA vs plain joins+sums.
    "q28_simhash" ->
      """SELECT id_a, id_b, hamming FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        | FROM read_parquet('__AUX__/aux_doc_simhash/*.parquet') a
        | JOIN read_parquet('__AUX__/aux_doc_simhash/*.parquet') b
        |   ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3""".stripMargin,

    // ground truth: brute-force exact top-k over the FULL planted corpus —
    // the Spark side only supplies the corpus rows (input ∪ deterministic
    // perturbations); candidate selection and ranking are entirely DuckDB's
    "q30_ann_lsh" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM read_parquet('__AUX__/aux_ann_corpus/*.parquet'))
        |SELECT query_id, neighbor_id, rank, sim FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   round(list_dot_product(q.v, c.v)
        |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id))
        |WHERE rank <= 5""".stripMargin,

    "q31_knn_cells" ->
      """SELECT point_id, "shstReferenceId", rank, dist_km FROM (
        | SELECT point_id, "shstReferenceId" AS "shstReferenceId", dist_km,
        |  row_number() OVER (PARTITION BY point_id ORDER BY dist_km, "shstReferenceId") AS rank
        | FROM read_parquet('__AUX__/aux_knn_dists/*.parquet'))
        |WHERE rank <= 3""".stripMargin,

    "q33_frame_sample" ->
      """SELECT media_id, CAST(floor((n_frames + 1) / 2.0) AS BIGINT) AS n_sampled
        |FROM read_parquet('__AUX__/aux_media_meta/*.parquet')""".stripMargin,

    "q34_node_ways_index" ->
      """SELECT node_id, count(DISTINCT "wayId") AS n_ways
        |FROM read_parquet('__AUX__/aux_seg_nodes/*.parquet') GROUP BY 1""".stripMargin,

    "q40_conflation" ->
      """SELECT s."shstReferenceId" AS "shstReferenceId",
        | row_number() OVER (PARTITION BY s."shstReferenceId" ORDER BY s."startDist")
        |   AS "segmentIndex",
        | count(*) OVER (PARTITION BY s."shstReferenceId") AS "totalSegments",
        | s."startDist" AS "startDist", s."endDist" AS "endDist",
        | (CAST(CASE r."roadClass" WHEN 'Motorway' THEN 0 WHEN 'Trunk' THEN 1
        |    WHEN 'Primary' THEN 2 WHEN 'Secondary' THEN 3 WHEN 'Tertiary' THEN 4
        |    WHEN 'Residential' THEN 5 WHEN 'Unclassified' THEN 6 WHEN 'Service' THEN 7
        |    ELSE 8 END AS DOUBLE)
        |  + CASE WHEN r."oneWay" THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
        |   AS networklevel
        |FROM read_parquet('__AUX__/aux_segments/*.parquet') s
        |JOIN read_parquet('__AUX__/aux_refs/*.parquet') r
        |  ON s."shstReferenceId" = r."shstReferenceId"""".stripMargin,

    "q41_conflation_tiles" ->
      """SELECT tile_x, tile_y, count(*) AS n_segments,
        | round(sum(len_km), 6) AS total_km,
        | CAST(sum(n_tm) AS BIGINT) AS match_density, 12 AS zoom
        |FROM (
        | SELECT CAST(least(greatest(floor((first_lon + 180.0)/360.0*4096), 0), 4095) AS BIGINT) AS tile_x,
        |  CAST(least(greatest(floor((90.0 - first_lat)/180.0*4096), 0), 4095) AS BIGINT) AS tile_y,
        |  ("endDist" - "startDist") AS len_km, n_tm
        | FROM read_parquet('__AUX__/aux_segments/*.parquet')
        | WHERE 12 >= (CASE WHEN networklevel <= 1 THEN 3 WHEN networklevel <= 2 THEN 10
        |   WHEN networklevel <= 3 THEN 12 ELSE 13 END))
        |GROUP BY 1, 2""".stripMargin,

    "q42_qa_summary" ->
      """WITH ol AS (
        | SELECT t."targetMap" AS tm, t."targetMapId" AS tmid,
        |  sum(CASE WHEN regexp_matches(t."targetMap", '^ris_\d{4}$') AND NOT r."oneWay"
        |    THEN t.len_km / 2 ELSE t.len_km END) AS output_km
        | FROM read_parquet('__AUX__/aux_seg_tm/*.parquet') t
        | JOIN read_parquet('__AUX__/aux_refs/*.parquet') r
        |   ON t."shstReferenceId" = r."shstReferenceId"
        | GROUP BY 1, 2),
        |qa AS (
        | SELECT f."targetMap" AS "targetMap", f.input_km,
        |  coalesce(ol.output_km, 0.0) AS output_km
        | FROM read_parquet('__AUX__/aux_features/*.parquet') f
        | LEFT JOIN ol ON f."targetMap" = ol.tm AND f."targetMapId" = ol.tmid)
        |SELECT "targetMap", count(*) AS n_features,
        | CAST(sum(CASE WHEN output_km > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        | round(sum(input_km), 6) AS total_input_km,
        | round(sum(CASE WHEN abs((output_km - input_km)/input_km) <= 0.05
        |   THEN input_km ELSE 0.0 END), 6) AS passing_km,
        | round(CAST(sum(CASE WHEN output_km > 0 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 6)
        |   AS match_rate,
        | round(sum(CASE WHEN abs((output_km - input_km)/input_km) <= 0.05
        |   THEN input_km ELSE 0.0 END)/sum(input_km), 6) AS passing_ratio
        |FROM qa GROUP BY 1""".stripMargin,

    "q43_output_projection" ->
      """WITH idx AS (
        | SELECT "shstReferenceId" AS rid, "segmentIndex" AS sidx, "targetMap" AS tm,
        |  regexp_extract("matchedTargetMapId", '^[^|!]+') AS mid,
        |  row_number() OVER (PARTITION BY "targetMap", "targetMapId"
        |    ORDER BY "matchedTargetMapMicroIdx", "shstReferenceId", "segmentIndex") - 1 AS cidx,
        |  "megaDir" AS megadir
        | FROM read_parquet('__AUX__/aux_seg_tm/*.parquet')),
        |per AS (
        | SELECT rid, sidx,
        |  max(CASE WHEN tm = 'npmrds_2026' THEN mid END) AS tmc26id,
        |  max(CASE WHEN tm = 'npmrds_2026' THEN cidx END) AS tmc26idx,
        |  max(CASE WHEN tm = 'ris_2026' THEN mid END) AS ris26id,
        |  max(CASE WHEN tm = 'ris_2026' THEN cidx END) AS ris26idx,
        |  max(CASE WHEN tm = 'osm' THEN mid END) AS osmid,
        |  max(CASE WHEN tm = 'osm' THEN cidx END) AS osmidx
        | FROM idx GROUP BY 1, 2),
        |vote AS (
        | SELECT rid, sidx, megadir FROM (
        |  SELECT rid, sidx, megadir, row_number() OVER (PARTITION BY rid, sidx
        |    ORDER BY count(*) DESC, megadir) AS rn
        |  FROM idx WHERE tm LIKE 'ris%' AND megadir IS NOT NULL
        |  GROUP BY rid, sidx, megadir)
        | WHERE rn = 1)
        |SELECT s."shstReferenceId" AS "shstReferenceId",
        | s."segmentIndex" AS "segmentIndex",
        | concat(s."segmentIndex", ':', s."totalSegments") AS split_seg,
        | s.networklevel,
        | p.tmc26id, p.tmc26idx, p.ris26id, p.ris26idx, p.osmid, p.osmidx,
        | coalesce(v.megadir, CASE WHEN s.seg_bearing <= 45 OR s.seg_bearing > 315
        |   THEN 'NORTHBOUND' ELSE 'EASTBOUND' END) AS dir
        |FROM read_parquet('__AUX__/aux_segments/*.parquet') s
        |LEFT JOIN per p ON s."shstReferenceId" = p.rid AND s."segmentIndex" = p.sidx
        |LEFT JOIN vote v ON s."shstReferenceId" = v.rid AND s."segmentIndex" = v.sidx""".stripMargin,

    "q44_restrictions" ->
      """WITH ways AS (
        | SELECT concat("shstReferenceId", ':', "segmentIndex") AS cw,
        |  "wayId" AS raw_osm_id, start_node, end_node
        | FROM read_parquet('__AUX__/aux_segments/*.parquet')),
        |anchored AS (
        | SELECT r."viaNodeId" AS "viaNodeId", r."fromWayId", r."toWayId",
        |  r.restriction AS restriction,
        |  min(f.cw) AS from_way, min(t.cw) AS to_way
        | FROM read_parquet('__AUX__/aux_restrictions/*.parquet') r
        | JOIN ways f ON r."fromWayId" = f.raw_osm_id AND r."viaNodeId" = f.end_node
        | JOIN ways t ON r."toWayId" = t.raw_osm_id AND r."viaNodeId" = t.start_node
        | GROUP BY 1, 2, 3, 4)
        |SELECT row_number() OVER (ORDER BY "viaNodeId", "fromWayId", "toWayId",
        |   restriction) AS restriction_id,
        | "viaNodeId", from_way, to_way, restriction
        |FROM anchored""".stripMargin,

    "q45_ndjson_ingest" ->
      """SELECT properties.targetMapId AS id, properties.targetMap AS "targetMap",
        | len(geometry.coordinates) AS n_coords
        |FROM read_json('__AUX__/aux_ndjson/*.txt.gz',
        |  format = 'newline_delimited', ignore_errors = true,
        |  columns = {
        |   "type": 'VARCHAR',
        |   "properties": 'STRUCT(targetMapId VARCHAR, targetMapCountyCode VARCHAR, targetMap VARCHAR)',
        |   "geometry": 'STRUCT(type VARCHAR, coordinates DOUBLE[][])'})
        |WHERE geometry.coordinates IS NOT NULL
        |  AND len(geometry.coordinates) >= 2
        |  AND properties.targetMapCountyCode = '36001'""".stripMargin,

    // ground truth: exact cosine over ALL corpus pairs (the LSH self-join's
    // recall is graded, not its own candidate set)
    "q46_cosine_neardup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM read_parquet('__AUX__/aux_neardup_corpus/*.parquet'))
        |SELECT id_a, id_b, cos FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.95""".stripMargin,

    // same ground truth as q30: brute-force exact top-k over the planted
    // corpus, independent of the IVF probing
    "q47_ann_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM read_parquet('__AUX__/aux_ann_corpus/*.parquet'))
        |SELECT query_id, neighbor_id, rank, sim FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   round(list_dot_product(q.v, c.v)
        |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id))
        |WHERE rank <= 5""".stripMargin,

    "q48_bpe_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text,
        |   '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))
        |   AS n_bpe_tokens,
        | array_length(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens
        |FROM documents""".stripMargin,

    "q49_winnow_fingerprint" ->
      """WITH g AS (SELECT doc_id, pos, h
        |  FROM read_parquet('__AUX__/aux_doc_kgrams/*.parquet')),
        |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |s AS (SELECT g.doc_id, g.pos, n.n,
        |  min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        | FROM g JOIN n ON g.doc_id = n.doc_id)
        |SELECT doc_id, count(DISTINCT sel) AS n_fp, bit_xor(DISTINCT sel) AS fp_xor
        |FROM s WHERE pos <= greatest(n - 4, 0) GROUP BY 1""".stripMargin,

    // identical recomputation to q41: the MVT density layer must carry the
    // same aggregates DuckDB derives from the raw segment projections
    "q52_mvt_density" ->
      """SELECT tile_x, tile_y, count(*) AS n_segments,
        | round(sum(len_km), 6) AS total_km,
        | CAST(sum(n_tm) AS BIGINT) AS match_density, 12 AS zoom
        |FROM (
        | SELECT CAST(least(greatest(floor((first_lon + 180.0)/360.0*4096), 0), 4095) AS BIGINT) AS tile_x,
        |  CAST(least(greatest(floor((90.0 - first_lat)/180.0*4096), 0), 4095) AS BIGINT) AS tile_y,
        |  ("endDist" - "startDist") AS len_km, n_tm
        | FROM read_parquet('__AUX__/aux_segments/*.parquet')
        | WHERE 12 >= (CASE WHEN networklevel <= 1 THEN 3 WHEN networklevel <= 2 THEN 10
        |   WHEN networklevel <= 3 THEN 12 ELSE 13 END))
        |GROUP BY 1, 2""".stripMargin,

    // raster tiles: pixel binning recomputed from the raw vertex doubles
    // (global pixel index floor'd ONCE, tile/pixel split with integer ops —
    // mirrors RasterTiles.pixelCounts exactly), stats aggregated per tile;
    // Spark's answer traveled through real PNG bytes, DuckDB's never does
    "q54_raster_tiles" ->
      """WITH px AS (
        | SELECT CAST(least(greatest(floor((lon + 180.0)/360.0*1048576.0), 0), 1048575) AS BIGINT) AS gx,
        |  CAST(least(greatest(floor((90.0 - lat)/180.0*1048576.0), 0), 1048575) AS BIGINT) AS gy
        | FROM read_parquet('__AUX__/aux_segment_vertices/*.parquet')
        | WHERE 12 >= (CASE WHEN networklevel <= 1 THEN 3 WHEN networklevel <= 2 THEN 10
        |   WHEN networklevel <= 3 THEN 12 ELSE 13 END)
        |), cnt AS (
        | SELECT gx // 256 AS tile_x, gy // 256 AS tile_y,
        |  gx % 256 AS px, gy % 256 AS py, count(*) AS c
        | FROM px GROUP BY 1, 2, 3, 4
        |)
        |SELECT tile_x, tile_y, count(*) AS n_lit,
        | CAST(sum(least(c, 65535)) AS BIGINT) AS px_sum,
        | CAST(max(least(c, 65535)) AS BIGINT) AS max_px, 12 AS zoom
        |FROM cnt GROUP BY 1, 2""".stripMargin,

    // stoplights: the reference's `grep -v null | grep signal` over the
    // nodes dump, recomputed relationally over the generator rows — the
    // Spark answer came through the XML fixture + real S3 scan instead
    "q55_stoplights" ->
      """SELECT id, lon, lat, n_tags, highway
        |FROM read_parquet('__AUX__/aux_osm_nodes/*.parquet')
        |WHERE tags_json IS NOT NULL AND tags_json LIKE '%signal%'""".stripMargin,

    // FeatureCollection round-trip: the projected properties recomputed
    // relationally — Spark's rows went out through the S8 envelope and
    // back in through the multiLine scan
    "q56_fc_roundtrip" ->
      """SELECT "shstReferenceId" || ':' || "segmentIndex" AS id,
        | "segmentIndex" || ':' || "totalSegments" AS split_seg,
        | networklevel, n_coords
        |FROM read_parquet('__AUX__/aux_segments/*.parquet')""".stripMargin,

    // conflation-map shapefile: the same projection recomputed relationally
    // while Spark's rows went out through real .shp/.dbf bytes and back in
    // through the S5 scan — len_km is the identical IEEE subtraction of the
    // identical parquet doubles, and the DBF text leg is exact because
    // Double.toString is the shortest uniquely-parsing representation
    "q57_conflation_shapefile" ->
      """SELECT "shstReferenceId" || ':' || "segmentIndex" AS id,
        | networklevel, "roadClass" AS road_class,
        | "endDist" - "startDist" AS len_km, n_coords
        |FROM read_parquet('__AUX__/aux_segments/*.parquet')""".stripMargin,

    // ground-truth cluster grading: pairs from brute-force Jaccard (q26's
    // oracle CTE), components as the transitive closure via recursive CTE
    // — Spark's LSH pair recall and hash-min fixpoint must both agree
    "q59_dedup_components" ->
      """WITH RECURSIVE s AS (SELECT doc_id, list_distinct(
        |   [substr(text, CAST(i AS INT), 5) for i in range(1, greatest(length(text)-4,1)+1)]) AS sh
        | FROM documents),
        |p AS (SELECT id_a, id_b FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))*1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
        | FROM s a JOIN s b ON a.doc_id < b.doc_id) WHERE j >= 0.7),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |r(id, reach) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT r.id, e.dst FROM r JOIN e ON e.src = r.reach)
        |SELECT id AS doc_id, min(reach) AS comp, (min(reach) = id) AS keeper
        |FROM r GROUP BY id""".stripMargin,

    // star contraction must reach the same fixpoint as hash-min: same
    // ground-truth closure grades both labelers
    "q60_components_star" ->
      """WITH RECURSIVE s AS (SELECT doc_id, list_distinct(
        |   [substr(text, CAST(i AS INT), 5) for i in range(1, greatest(length(text)-4,1)+1)]) AS sh
        | FROM documents),
        |p AS (SELECT id_a, id_b FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))*1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
        | FROM s a JOIN s b ON a.doc_id < b.doc_id) WHERE j >= 0.7),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |r(id, reach) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT r.id, e.dst FROM r JOIN e ON e.src = r.reach)
        |SELECT id AS doc_id, min(reach) AS comp, (min(reach) = id) AS keeper
        |FROM r GROUP BY id""".stripMargin,

    // identical ground truth for the durable-fixpoint labeler
    "q67_components_resumable" ->
      """WITH RECURSIVE s AS (SELECT doc_id, list_distinct(
        |   [substr(text, CAST(i AS INT), 5) for i in range(1, greatest(length(text)-4,1)+1)]) AS sh
        | FROM documents),
        |p AS (SELECT id_a, id_b FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))*1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
        | FROM s a JOIN s b ON a.doc_id < b.doc_id) WHERE j >= 0.7),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |r(id, reach) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT r.id, e.dst FROM r JOIN e ON e.src = r.reach)
        |SELECT id AS doc_id, min(reach) AS comp, (min(reach) = id) AS keeper
        |FROM r GROUP BY id""".stripMargin,

    // WARC round-trip: the same page/url/timestamp construction recomputed
    // relationally — Spark's rows travelled out through real .warc.gz bytes
    // (gzip members, WARC headers, HTTP envelope) and back in through the
    // streaming scan; a single corrupted byte anywhere in that leg flips
    // the hash
    "q68_warc_roundtrip" ->
      """SELECT doc_id, 1735689600 + doc_id % 86400 AS warc_epoch,
        | '<html><body><h1>doc ' || doc_id || '</h1><p>' || text
        |   || '</p></body></html>' AS page,
        | octet_length(encode('<html><body><h1>doc ' || doc_id || '</h1><p>'
        |   || text || '</p></body></html>')) AS n_bytes
        |FROM documents""".stripMargin,

    // streaming-ingest leg: identical recomputation — the rows travelled
    // landing-dir → micro-batch → Warc parse → atomic snapshot commit →
    // snapshot-isolated scan
    // line-level dedup: identical planted pages; first-occurrence rule
    // mirrored as a row_number window ordered by (doc_id, idx) — the
    // semantics the Spark min(struct) aggregation implements shuffle-lean
    "q74_line_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, concat_ws('. ',
        |    'subscribe to our newsletter',
        |    'footer of site ' || CAST(doc_id % 7 AS VARCHAR),
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' says ' || substr(text,1,30),
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' says ' || substr(text,1,30),
        |    'contact doc ' || CAST(doc_id AS VARCHAR)) AS text FROM documents),
        |arr AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text,'.'),
        |    x -> trim(x)), x -> x != '') AS ls FROM docs),
        |lines AS (
        |  SELECT doc_id, CAST(unnest(range(len(ls))) AS BIGINT) AS idx,
        |    unnest(ls) AS line FROM arr),
        |keep AS (
        |  SELECT doc_id, idx, line FROM (
        |    SELECT doc_id, idx, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        |    FROM lines) WHERE rn = 1)
        |SELECT a.doc_id,
        |  coalesce(string_agg(k.line, '. ' ORDER BY k.idx), '') AS text_deduped,
        |  count(k.idx) AS n_kept,
        |  any_value(len(a.ls)) AS n_lines
        |FROM arr a LEFT JOIN keep k USING (doc_id)
        |GROUP BY a.doc_id""".stripMargin,

    // LM scoring: identical bigram construction (q69's 1-indexed list
    // comprehension), identical add-one model math; ln is IEEE-identical
    // up to an ulp so both sides round the final statistic to 6dp
    "q75_lm_score" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x != '') AS ws
        | FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest([ws[CAST(i AS INT)] for i in range(1, len(ws))]) AS ctx,
        |  unnest([ws[CAST(i AS INT)+1] for i in range(1, len(ws))]) AS w
        | FROM w WHERE len(ws) >= 2),
        |model AS (SELECT ctx, w, count(*) AS cnt FROM bg
        | WHERE doc_id % 101 = 0 GROUP BY 1, 2),
        |ctxc AS (SELECT ctx, count(*) AS ctx_cnt FROM bg
        | WHERE doc_id % 101 = 0 GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT x) AS v FROM
        |  (SELECT unnest(ws) AS x FROM w WHERE doc_id % 101 = 0)),
        |docbg AS (SELECT doc_id, ctx, w, count(*) AS k FROM bg
        | WHERE doc_id % 101 != 0 GROUP BY 1, 2, 3),
        |terms AS (SELECT d.doc_id, d.k,
        |  d.k * ln((coalesce(m.cnt, 0) + 1) * 1.0 / (coalesce(c.ctx_cnt, 0) + v.v)) AS term,
        |  CASE WHEN m.cnt IS NULL THEN d.k ELSE 0 END AS oov_k
        | FROM docbg d LEFT JOIN model m USING (ctx, w)
        |  LEFT JOIN ctxc c USING (ctx) CROSS JOIN vocab v),
        |s AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  round(-sum(term) / sum(k), 6) AS nll_per_token,
        |  round(sum(oov_k) * 1.0 / sum(k), 6) AS oov_frac
        | FROM terms GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        | coalesce(s.nll_per_token, 0.0) AS nll_per_token,
        | coalesce(s.oov_frac, 0.0) AS oov_frac
        |FROM documents d LEFT JOIN s USING (doc_id)
        |WHERE d.doc_id % 101 != 0""".stripMargin,

    // BM25: identical tokenization, identical Okapi math with the same
    // literal k1=1.2 b=0.75, scores rounded 6dp BEFORE ranking, ties on
    // doc_id — the ranking is engine-reproducible by construction
    "q76_bm25_search" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x != '') AS ws
        | FROM documents),
        |dl AS (SELECT doc_id, len(ws) AS dl FROM w),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY 1, 2),
        |q AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:3])) AS term
        | FROM w WHERE doc_id % 101 = 0),
        |dft AS (SELECT term, count(*) AS df FROM tf
        | WHERE term IN (SELECT term FROM q) GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
        |  round(sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
        |    * (tf.tf * 2.2)
        |    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6) AS score
        | FROM tf JOIN q USING (term) JOIN dft d USING (term)
        |  JOIN dl USING (doc_id) CROSS JOIN stats s
        | GROUP BY 1, 2)
        |SELECT query_id, doc_id, n_terms, score, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY score DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= 5""".stripMargin,

    // incremental dedup: identical planted new-crawl construction; all
    // three layers replayed relationally with the same precedence —
    // near-dup via brute-force 5-shingle Jaccard against EVERY old doc
    "q77_incremental_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |nw AS (
        | SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 10 = 0
        | UNION ALL SELECT doc_id + 1000000, text || ' incremental crawl tail marker'
        |  FROM base WHERE doc_id % 10 = 1
        | UNION ALL SELECT doc_id + 1000000,
        |  'fresh page ' || doc_id || ' about entirely new topics'
        |  FROM base WHERE doc_id % 10 = 2
        | UNION ALL SELECT doc_id + 1000000, 'shared boilerplate page body'
        |  FROM base WHERE doc_id % 10 = 3),
        |oldk AS (SELECT doc_id, md5(text) AS k, list_distinct(
        |  [substr(text, CAST(i AS INT), 5) for i in range(1, greatest(length(text)-4,1)+1)]) AS sh
        | FROM base),
        |newk AS (SELECT doc_id, md5(text) AS k, list_distinct(
        |  [substr(text, CAST(i AS INT), 5) for i in range(1, greatest(length(text)-4,1)+1)]) AS sh
        | FROM nw),
        |ex_old AS (SELECT n.doc_id, min(o.doc_id) AS dup
        | FROM newk n JOIN oldk o ON n.k = o.k GROUP BY 1),
        |ex_new AS (SELECT n.doc_id, min(m.doc_id) AS dup
        | FROM newk n JOIN newk m ON n.k = m.k AND m.doc_id < n.doc_id GROUP BY 1),
        |near AS (SELECT n.doc_id, min(o.doc_id) AS dup FROM newk n JOIN oldk o
        |  ON round(len(list_intersect(n.sh, o.sh)) * 1.0
        |     / len(list_distinct(list_concat(n.sh, o.sh))), 6) >= 0.7
        | GROUP BY 1)
        |SELECT n.doc_id,
        | CASE WHEN eo.dup IS NOT NULL OR en.dup IS NOT NULL THEN 'exact_dup'
        |      WHEN nr.dup IS NOT NULL THEN 'near_dup' ELSE 'kept' END AS status,
        | coalesce(eo.dup, en.dup, nr.dup, -1) AS dup_of
        |FROM nw n LEFT JOIN ex_old eo USING (doc_id)
        | LEFT JOIN ex_new en USING (doc_id)
        | LEFT JOIN near nr USING (doc_id)""".stripMargin,

    "q73_warc_ingest_stream" ->
      """SELECT doc_id, 1735689600 + doc_id % 86400 AS warc_epoch,
        | '<html><body><h1>doc ' || doc_id || '</h1><p>' || text
        |   || '</p></body></html>' AS page,
        | octet_length(encode('<html><body><h1>doc ' || doc_id || '</h1><p>'
        |   || text || '</p></body></html>')) AS n_bytes
        |FROM documents""".stripMargin,

    // CDX random-access leg: same relational recomputation as q68 plus the
    // SURT key — the Spark rows came through per-record seeks driven by
    // the same-pass index, so offset/length/surt errors all flip the hash
    "q72_warc_cdx" ->
      """SELECT doc_id, 'test,example)/doc/' || doc_id AS surt,
        | 1735689600 + doc_id % 86400 AS warc_epoch,
        | '<html><body><h1>doc ' || doc_id || '</h1><p>' || text
        |   || '</p></body></html>' AS page,
        | octet_length(encode('<html><body><h1>doc ' || doc_id || '</h1><p>'
        |   || text || '</p></body></html>')) AS n_bytes
        |FROM documents""".stripMargin,

    // Gopher repetition gates: line stats via list HOFs, the 2-gram mode
    // via the same explode/group/top ordering (count DESC, gram DESC)
    "q69_repetition_stats" ->
      """WITH s AS (SELECT doc_id,
        |  list_filter(list_transform(string_split(text, '.'), x -> trim(x)), x -> x != '') AS ls,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x != '') AS ws
        | FROM documents),
        |base AS (SELECT doc_id, ws, len(ls) AS n_lines,
        |  CASE WHEN len(ls)=0 THEN 0.0
        |   ELSE round(1.0 - len(list_distinct(ls))*1.0/len(ls), 6) END AS dup_line_frac,
        |  CASE WHEN len(ls)=0 THEN 0.0
        |   ELSE round((list_aggregate(list_transform(ls, x -> length(x)), 'sum')
        |     - list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum')) * 1.0
        |     / greatest(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 1), 6)
        |  END AS dup_char_frac
        | FROM s),
        |g AS (SELECT doc_id, unnest(
        |   [ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] for i in range(1, len(ws))]) AS g
        | FROM s WHERE len(ws) >= 2),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |top AS (SELECT doc_id, g AS top2_gram, c FROM (
        |  SELECT doc_id, g, c,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn FROM gc)
        | WHERE rn = 1)
        |SELECT doc_id, n_lines, dup_line_frac, dup_char_frac, top2_gram, top2_frac,
        | (dup_line_frac > 0.30 OR dup_char_frac > 0.20 OR top2_frac > 0.18) AS flagged
        |FROM (SELECT b.doc_id, b.n_lines, b.dup_line_frac, b.dup_char_frac,
        |  coalesce(t.top2_gram, '') AS top2_gram,
        |  coalesce(round(t.c * length(t.top2_gram) * 1.0
        |    / greatest(length(array_to_string(b.ws, ' ')), 1), 6), 0.0) AS top2_frac
        | FROM base b LEFT JOIN top t USING (doc_id))""".stripMargin,

    // decontamination: identical 4-gram construction, eval slice joined
    // back against the training side
    "q70_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x != '') AS ws
        | FROM documents),
        |g AS (SELECT doc_id, unnest(
        |   [array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+3], ' ')
        |    for i in range(1, greatest(len(ws)-3, 0)+1)]) AS g
        | FROM w WHERE len(ws) >= 4),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 101 = 0),
        |hits AS (SELECT doc_id, count(DISTINCT g.g) AS n_hit_grams
        | FROM g JOIN ev USING (g) WHERE doc_id % 101 != 0 GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hit_grams, 0) AS n_hit_grams,
        | coalesce(h.n_hit_grams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 101 != 0""".stripMargin,

    // url canonicalization: the same messy construction and the same
    // regex kernel, every pattern inside the RE2 ∩ Java common dialect
    "q71_url_canonical" ->
      """WITH r AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://'
        |  || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN 'News' ELSE 'site' || (doc_id % 7) END)
        |  || '.'
        |  || (CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'co.uk'
        |      WHEN doc_id % 4 = 2 THEN 'org' ELSE 'de' END)
        |  || (CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END)
        |  || '/p/' || doc_id
        |  || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 9 = 0 THEN '#s' ELSE '' END) AS raw_url
        | FROM documents),
        |c AS (SELECT doc_id, raw_url,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(regexp_extract(regexp_replace(raw_url, '#.*$', ''), '^([^/]+//[^/]*)', 1))
        |      || regexp_extract(regexp_replace(raw_url, '#.*$', ''), '^[^/]+//[^/]*(.*)$', 1),
        |    '^(https://[^/:]+):443($|/)', '\1\2'),
        |    '^(http://[^/:]+):80($|/)', '\1\2'),
        |    '^(https?://)www\.', '\1'),
        |    '/$', '') AS canon,
        |  regexp_extract(lower(raw_url), '^[^/]+//(?:www\.)?([^/:#]+)', 1) AS host
        | FROM r)
        |SELECT doc_id, raw_url, canon,
        | CASE WHEN len(l) <= 2 THEN host
        |  WHEN l[len(l)-1] IN ('co','ac','gov','com','org','net')
        |    AND length(l[len(l)]) = 2 AND len(l) >= 3
        |   THEN l[len(l)-2] || '.' || l[len(l)-1] || '.' || l[len(l)]
        |  ELSE l[len(l)-1] || '.' || l[len(l)] END AS domain
        |FROM (SELECT doc_id, raw_url, canon, host, string_split(host, '.') AS l FROM c)""".stripMargin,

    // snapshot-table reads graded against the raw documents table: v1 is
    // the doc_id%4<2 commit, v2 the full table, v2_pruned the manifest-
    // pruned range scan (semantics must equal a plain BETWEEN)
    "q58_snapshot_table" ->
      """SELECT 'v1' AS snap, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        | FROM documents WHERE doc_id % 4 < 2
        |UNION ALL SELECT 'v2', CAST(count(*) AS BIGINT),
        |  CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        | FROM documents
        |UNION ALL SELECT 'v2_pruned', CAST(count(*) AS BIGINT),
        |  CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        | FROM documents WHERE doc_id BETWEEN 0 AND 100""".stripMargin,

    // identical recomputation to q40: the tile-path refs must conflate to
    // the same segments the synth-path refs did
    "q51_tile_conflation" ->
      """SELECT s."shstReferenceId" AS "shstReferenceId",
        | row_number() OVER (PARTITION BY s."shstReferenceId" ORDER BY s."startDist")
        |   AS "segmentIndex",
        | count(*) OVER (PARTITION BY s."shstReferenceId") AS "totalSegments",
        | s."startDist" AS "startDist", s."endDist" AS "endDist",
        | (CAST(CASE r."roadClass" WHEN 'Motorway' THEN 0 WHEN 'Trunk' THEN 1
        |    WHEN 'Primary' THEN 2 WHEN 'Secondary' THEN 3 WHEN 'Tertiary' THEN 4
        |    WHEN 'Residential' THEN 5 WHEN 'Unclassified' THEN 6 WHEN 'Service' THEN 7
        |    ELSE 8 END AS DOUBLE)
        |  + CASE WHEN r."oneWay" THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
        |   AS networklevel
        |FROM read_parquet('__AUX__/aux_segments/*.parquet') s
        |JOIN read_parquet('__AUX__/aux_refs/*.parquet') r
        |  ON s."shstReferenceId" = r."shstReferenceId"""".stripMargin,

    "q50_qa_bearing" ->
      """WITH d AS (
        | SELECT "targetMap" AS "targetMap",
        |  CASE WHEN d0 > 180 THEN 360 - d0 ELSE d0 END AS delta
        | FROM (
        |  SELECT "targetMap",
        |   abs(((matched_bearing - tm_bearing) % 360 + 360) % 360) AS d0
        |  FROM read_parquet('__AUX__/aux_match_bearings/*.parquet')
        |  WHERE matched_bearing >= 0))
        |SELECT "targetMap", count(*) AS n_matches,
        | CAST(sum(CASE WHEN least(delta, 180 - delta) <= 45 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bearing_ok,
        | round(CAST(sum(CASE WHEN least(delta, 180 - delta) <= 45 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS bearing_ok_rate
        |FROM d GROUP BY 1""".stripMargin,

    "q53_tile_scrape" ->
      """WITH cover AS (
        | SELECT DISTINCT '12-'
        |   || CAST(CAST(least(greatest(floor((lon + 180.0) / 360.0 * 4096), 0.0), 4095.0) AS BIGINT) AS VARCHAR)
        |   || '-'
        |   || CAST(CAST(least(greatest(floor((90.0 - lat) / 180.0 * 4096), 0.0), 4095.0) AS BIGINT) AS VARCHAR)
        |   AS tile_id
        | FROM read_parquet('__AUX__/aux_feature_vertices/*.parquet')),
        |seeded AS (
        | SELECT tile_id FROM (
        |  SELECT tile_id, row_number() OVER (ORDER BY tile_id) AS rn
        |  FROM read_parquet('__AUX__/aux_tileset_geoms/*.parquet'))
        | WHERE rn <= 5),
        |remote AS (
        | SELECT tile_id FROM read_parquet('__AUX__/aux_tileset_geoms/*.parquet'))
        |SELECT c.tile_id AS tile_id,
        | CASE WHEN r.tile_id IS NOT NULL THEN 'fetched' ELSE 'absent' END AS status
        |FROM cover c
        |LEFT JOIN seeded s ON c.tile_id = s.tile_id
        |LEFT JOIN remote r ON c.tile_id = r.tile_id
        |WHERE s.tile_id IS NULL""".stripMargin,

    // the oracle rebuilds the identical page string, then strips it with the
    // composed regexp/replace chain (script/style blocks whole, comments,
    // tags, then entities — &amp; LAST so escaped sequences survive the
    // earlier passes exactly like the scanner's left-to-right decode)
    "q61_html_extract" ->
      """WITH h AS (
        | SELECT doc_id, text,
        |  '<html><head><script type="text/javascript">if (1 < 2) { s = "&x"; }</script>'
        |  || '<style>p > em { color: red }</style><!-- doc '
        |  || CAST(doc_id AS VARCHAR) || ' --></head><body><h1 class="t">'
        |  || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |  || '</h1></body></html>' AS page
        | FROM documents),
        |x AS (
        | SELECT doc_id, text,
        |  replace(replace(replace(replace(replace(
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(page,
        |    '<script[^>]*>.*?</script[^>]*>', '', 'g'),
        |    '<style[^>]*>.*?</style[^>]*>', '', 'g'),
        |    '<!--.*?-->', '', 'g'),
        |    '<[^>]*>', '', 'g'),
        |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
        |   '&amp;', '&') AS text_x
        | FROM h)
        |SELECT doc_id, text_x, (text_x = text) AS ok FROM x""".stripMargin,

    // same md5-bucket derivation from the key alone: first 6 hex digits as
    // an integer, mod 100, percent-granular cumulative ranges
    "q62_hash_split" ->
      """SELECT doc_id, bucket,
        | CASE WHEN bucket < 90 THEN 'train'
        |      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (
        | SELECT doc_id,
        |  CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 6))
        |    AS BIGINT) % 100 AS bucket
        | FROM documents)""".stripMargin,

    // the STRAIGHT one-window form — grades that the salted two-level plan
    // returns exactly the naive semantics
    "q63_stratified_sample" ->
      """SELECT lang, doc_id, rn FROM (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)),
        |             source || '|' || CAST(doc_id AS VARCHAR)) AS rn
        | FROM documents) WHERE rn <= 25""".stripMargin,

    // replay of the next-fit state machine: same md5 shard + order, a
    // recursive CTE carrying (bin, used) down each shard's row chain
    "q64_sequence_pack" ->
      """WITH RECURSIVE d AS (
        | SELECT CAST(doc_id AS VARCHAR) AS key,
        |  CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 8
        |    AS shard,
        |  md5(CAST(doc_id AS VARCHAR)) AS ord
        | FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY ord, key)
        |        AS rn FROM d),
        |p(shard, rn, key, n_tokens, bin, used) AS (
        | SELECT shard, rn, key, n_tokens, CAST(0 AS BIGINT), n_tokens
        | FROM r WHERE rn = 1
        | UNION ALL
        | SELECT r2.shard, r2.rn, r2.key, r2.n_tokens,
        |  CASE WHEN p.used + r2.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
        |  CASE WHEN p.used + r2.n_tokens <= 512 THEN p.used + r2.n_tokens
        |       ELSE r2.n_tokens END
        | FROM p JOIN r r2 ON r2.shard = p.shard AND r2.rn = p.rn + 1)
        |SELECT shard, key, n_tokens, bin FROM p""".stripMargin,

    // same md5-bucket threshold per source (1e-6-granular rates)
    "q65_mixture_sample" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source,
        |  CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 6))
        |    AS BIGINT) % 1000000 AS bucket
        | FROM documents)
        |WHERE bucket < (CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 250000
        |                WHEN 'src2' THEN 1000000 ELSE 500000 END)""".stripMargin,

    // identical plant, identical RE2∩Java-dialect patterns, email pass first
    "q66_redact_pii" ->
      """SELECT doc_id, red, (length(txt_full) - length(red)) AS shrunk FROM (
        | SELECT doc_id, txt_full,
        |  regexp_replace(regexp_replace(regexp_replace(txt_full,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS red
        | FROM (
        |  SELECT doc_id,
        |   text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or 10.' || CAST(doc_id % 200 AS VARCHAR)
        |    || '.0.' || CAST(doc_id % 250 AS VARCHAR)
        |    || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt_full
        |  FROM documents))""".stripMargin
  )
}
