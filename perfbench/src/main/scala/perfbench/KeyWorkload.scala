package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Runs `SparkEntry.queries` keys as ops.
  *
  * Each op runs one key in a fresh child session, after
  * `RunCaches.reset()` and `clearCache()`, and collects its result. The
  * warm-up execution of each key writes the result as parquet under
  * `<out>/outputs/<key>` for the oracle check `run.py` makes with DuckDB
  * (the key's `oracleSql` goes to `<out>/oracle_sql.json`); every later
  * execution must reproduce that result's fingerprint (row count plus
  * an order-insensitive hash), or the op counts as failed. */
final class KeyRunner(ctx: Ctx, keys: Seq[String]) {
  private val fns = graft.SparkEntry.queries
  private val reference = mutable.Map.empty[String, String]
  Json.write(s"${ctx.out}/oracle_sql.json", keys.flatMap(k =>
    graft.SparkEntry.oracleSql.get(k).map(k -> _)).toMap)

  def exec(pass: Int, key: String): Op =
    Main.timed(ctx, pass, key, "key", Modules.of(key)) {
      val ss = ctx.spark.newSession()
      graft.RunCaches.reset()
      ss.catalog.clearCache()
      val df = fns(key)(ss, ctx.data)
      val rows = df.collect().toSeq
      val fp = Fingerprint(rows)
      if (pass == KeyRunner.OutputPass) {
        val dir = new java.io.File(ctx.out, s"outputs/$key").getAbsolutePath
        ctx.spark.createDataFrame(rows.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
      reference.get(key).foreach(ref => require(ref == fp,
        s"result fingerprint $fp differs from the checked output $ref"))
      fp
    }

  /** The first execution of a key, whose result is checked; returns its
    * time in ms. */
  def warmup(key: String): (String, Double) = {
    val op = exec(KeyRunner.OutputPass, key)
    if (op.ok) reference(key) = op.fp
    else System.err.println(s"perfbench: $key fails in the warm-up pass")
    key -> op.ms
  }
}

object KeyRunner {
  /** Pass number of the first, untimed execution of every key. */
  val OutputPass = -1
  /** Pass number of the untimed pass that follows it. */
  val WarmPass = -2
}

/** A workload of keys, run in a seeded order after two warm-up passes. */
final case class KeyWorkload(name: String, keys: Seq[String])
    extends Workload {

  def run(ctx: Ctx): Outcome = {
    val runner = new KeyRunner(ctx, keys)
    val rng = new scala.util.Random(ctx.seed)
    // warm-up: the first pass produces the outputs the oracle check
    // reads (its times are reported apart); both passes let class
    // loading, code generation and the JIT settle before timing
    val warm = rng.shuffle(keys).map(runner.warmup)
    rng.shuffle(keys).foreach(runner.exec(KeyRunner.WarmPass, _))
    Trace.reset()
    val ops = Seq.newBuilder[Op]
    val walls = Main.passes(ctx) { p =>
      for (k <- rng.shuffle(keys)) ops += runner.exec(p, k)
    }
    Outcome(ops.result(), walls, Map("warmup_ms" -> warm.toMap))
  }
}

object KeyWorkload {
  /** Read-only keys of the operators, functions, nlp and sim modules:
    * TPC-H, aggregate, window, string, text-quality and LSH similarity
    * keys. Execution and shuffle dominate; the catalog and streaming
    * layers stay idle. */
  val analytics = KeyWorkload("analytics", Seq(
    "q1_pricing_summary", "q6_forecast_revenue", "agg_hash_group",
    "win_ranking", "fn_string", "text_quality", "sim_ann_lsh"))
}

/** Module of a key: the package of the query group that declares it. */
object Modules {
  private val groups: Seq[(String, graft.QueryGroup)] = Seq(
    "sources" -> graft.sources.Scans,
    "operators" -> graft.operators.Relational,
    "operators" -> graft.operators.Aggregates,
    "operators" -> graft.operators.Windows,
    "operators" -> graft.operators.ScaleOps,
    "operators" -> graft.operators.Analytics,
    "operators" -> graft.operators.TpchQueries,
    "operators" -> graft.operators.TimeSeries,
    "operators" -> graft.operators.FeatureOps,
    "functions" -> graft.functions.ScalarFns,
    "functions" -> graft.functions.Udfs,
    "catalog" -> graft.catalog.DdlQueries,
    "streaming" -> graft.streaming.StreamOps,
    "nlp" -> graft.nlp.TextOps,
    "nlp" -> graft.nlp.CorpusOps,
    "sim" -> graft.sim.VectorOps,
    "sim" -> graft.sim.Multimodal)

  private lazy val byKey: Map[String, String] =
    groups.flatMap { case (m, g) => g.queries.keys.map(_ -> m) }.toMap

  def of(key: String): String = byKey.getOrElse(key, "other")
}

/** Row count plus an order-insensitive hash of a collected result.
  * Floating values are cut to 10 significant digits first, so the last
  * bits of a parallel sum cannot make two equal results differ. */
object Fingerprint {
  def apply(rows: Seq[Row]): String = {
    val h = scala.util.hashing.MurmurHash3.unorderedHash(
      rows.map(r => norm(r)))
    s"${rows.size}:${java.lang.Integer.toHexString(h)}"
  }

  private def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case other => other.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) (if (d == 0.0) "0" else d.toString)
    else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
}
