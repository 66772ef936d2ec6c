package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.core.Q
import graft.operators._
import org.apache.spark.sql.SparkSession

/** The two registry workloads. Each runs a fixed list of registry queries
  * through their public `run`, one at a time, and fingerprints every
  * output against the fingerprints recorded in `expected/`.
  *
  * The lists are written out, not computed, so a query added to the
  * registry later does not change the benchmark.
  */
object Registry {

  /** Gates from c12-c29: a CDC applier into a partitioned store (c14), a
    * stateful funnel (c16), and the two stream-stream joins where a
    * state-store change lands (c21, c28). Their seeded stores and event
    * slices are built in set-up by `RelationalQueries.warmSeeds`.
    */
  val StreamGates: Seq[String] = Seq(
    "c14_cdc_partitioned", "c16_stream_funnel_stateful",
    "c21_stream_stream_join", "c28_stream_outer_join")

  /** The read-only registry (q, d, s, t, m and c01-c11) taken every 32nd in
    * name order within each module from its first query, plus the queries
    * roadmap items name that fit the run: q20 q32 q39 (decimal sums), s12
    * s16 (brute-force top-5 audits), t25 and d27 (repeat-run slowdowns).
    * s06, s18, s25 and s28 (about 20 s together, cold) do not fit, and d33
    * is left out because its first call builds its URL store (about 5 s
    * of store writes).
    */
  val BatchQueries: Seq[String] = Seq(
    "c01_qc_decision",
    "d01_exact_dedup", "d27_max_dup_spans",
    "m01_media_decode",
    "q01_groupby_having", "q20_ratio_guarded", "q32_cube", "q33_range_join",
    "q39_grouping_sets",
    "s01_knn_bruteforce", "s12_int8_recall_audit", "s16_matryoshka_audit",
    "t01_token_stats", "t25_bpe_apply", "t33_quality_classifier")

  /** Registry query → the module that defines it. */
  lazy val modules: Map[String, (Q, String)] = Seq(
    "RelationalQueries" -> RelationalQueries.registry,
    "CompendiumQueries" -> CompendiumQueries.registry,
    "TextAnalysis" -> TextAnalysis.registry,
    "Dedup" -> Dedup.registry,
    "Similarity" -> Similarity.registry,
    "Multimodal" -> Multimodal.registry)
    .flatMap { case (m, qs) => qs.map(q => q.name -> (q, m)) }.toMap

  def ops(workload: String): Seq[(Q, String)] =
    (if (workload == "stream_gates") StreamGates else BatchQueries).map(modules)

  def loadExpected(file: Path): Map[String, Fingerprint] =
    Json.mapper.readTree(file.toFile).fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Fingerprint(v.get("rows").asLong, v.get("schema").asText, v.get("hash").asText)
    }.toMap

  /** Runs one pass over `list` in the given order. Returns the ops and the
    * queries whose output was not checked (the query threw) or differs
    * from its expected fingerprint.
    */
  def pass(spark: SparkSession, sf: String, list: Seq[(Q, String)],
      expected: Map[String, Fingerprint]): (Seq[Op], Seq[String]) = {
    val problems = Seq.newBuilder[String]
    val ops = list.map { case (q, module) =>
      var got: Option[Fingerprint] = None
      val op = Op.timed(q.name, module) { got = Some(Fingerprint.of(q.run(spark, sf))) }
      got match {
        case None => problems += s"${q.name}: threw (${op.error}), output not checked"
        case Some(fp) if !expected.get(q.name).contains(fp) =>
          problems += s"${q.name}: fingerprint $fp, expected ${expected.get(q.name)}"
        case _ =>
      }
      release(spark)
      op
    }
    (ops, problems.result())
  }

  /** Drops what a finished query left cached, as `graft.Bench` does between
    * queries, so one query's storage cannot slow the next.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Every listed query, for `graft.Verify` to write and the DuckDB oracle
    * to check.
    */
  def recorded: Seq[String] = (StreamGates ++ BatchQueries).sorted

  /** Fingerprints the outputs `graft.Verify` wrote under `out`. */
  def record(spark: SparkSession, out: Path): String = {
    val fps = Json.mapper.createObjectNode()
    recorded.foreach { n =>
      val fp = Fingerprint.of(spark.read.parquet(out.resolve(n).toString))
      fps.putObject(n).put("rows", fp.rows).put("schema", fp.schema).put("hash", fp.hash)
    }
    Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(fps) + "\n"
  }
}
