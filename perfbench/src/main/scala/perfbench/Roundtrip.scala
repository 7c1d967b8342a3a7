package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.{CatalogSnapshot, CatalogTransfer, SnapshotCatalog, WritableSnapshotCatalog}

/** The reference's round trip: a "source" session commits a sequence of
  * small changes with seeded slices and predicates through a
  * [[WritableSnapshotCatalog]], and
  * after each commit a "target" session — a read-only [[SnapshotCatalog]]
  * attach on the same directory — resolves the table by name and reads
  * a count and checksum, which must equal the benchmark's own model of
  * the table. Each pass starts from an empty catalog directory and also
  * runs one `CatalogTransfer.importInto` → `export` round trip.
  *
  * Tables: `orders_d` partitioned by `days(orderdate)` (the slices span
  * 40 days, so it grows to 40 partitions) and `lineitem_b` partitioned
  * by `bucket(40, id)`. The rows come from the staged `slices/`.
  *
  * A streaming producer shares the pass: the `stream_*` keys below — a
  * file source feeding a stateful windowed aggregate, and a sink into a
  * snapshot catalog read back through a second attach — run beside the
  * maintenance steps, in seeded order. Their results are checked like
  * any key's (see [[KeyRunner]]).
  *
  * Every pass runs the same sequence, so pass walls are comparable; an
  * untimed pass warms the JVM first. */
object Roundtrip extends Workload {
  val name = "metastore-roundtrip"
  val keys: Seq[String] = Seq("stream_v2_sink", "stream_tumbling")

  val Buckets = 40

  /** A modelled row: money in cents, quantity, the ADD COLUMN value. */
  final case class R(price: Long, qty: Long, note: Long)
  /** A modelled table: rows by id, and whether `note_c` exists yet. */
  final case class T(rows: Map[Long, R], hasNote: Boolean, widened: Boolean)

  final case class Slice(id: Long, slice: Int, price: Long, qty: Long)

  def checksum(t: T): Seq[Long] = Seq(t.rows.size.toLong, t.rows.keys.sum,
    t.rows.map { case (id, r) => r.price * (id % 7 + 1) }.sum,
    t.rows.values.map(_.note).sum, t.rows.values.map(_.qty).sum)

  def checksumSql(table: String, hasNote: Boolean): String =
    s"""SELECT count(*), coalesce(sum(id), 0),
       | coalesce(sum(price_c * (id % 7 + 1)), 0),
       | ${if (hasNote) "coalesce(sum(coalesce(note_c, 0)), 0)" else "0L"},
       | coalesce(sum(CAST(qty AS BIGINT)), 0) FROM $table""".stripMargin

  def noteOf(id: Long): Long = id % 5 + 1

  def run(ctx: Ctx): Outcome = {
    val slices = new java.io.File(ctx.data).getParentFile.getPath + "/slices"
    def load(t: String): Seq[Slice] =
      ctx.spark.read.parquet(s"$slices/$t.parquet")
        .selectExpr("id", "slice", "price_c", "CAST(qty AS BIGINT)")
        .collect().toSeq.map(r => Slice(r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3)))
    val src = Map("orders_d" -> load("orders"), "lineitem_b" -> load("lineitem"))

    val visible = mutable.ArrayBuffer.empty[Double]
    val ops = Seq.newBuilder[Op]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val runner = new KeyRunner(ctx, keys)
    // warm-up: one untimed pass; the keys' first results are the
    // outputs the oracle check reads
    val warm = keys.map(runner.warmup)
    new Pass(ctx, KeyRunner.OutputPass, slices, src, runner).run()
    Trace.reset()
    var last: Pass = null
    // a pass outlasts --seconds; two of them give wall_s a median that
    // one drift-slowed pass cannot set alone
    val walls = Main.passes(ctx, minPasses = 2) { p =>
      last = new Pass(ctx, p, slices, src, runner)
      last.run()
      ops ++= last.ops
      visible ++= last.visible
      perPass += last.storage()
    }
    val done = ops.result()
    val commits = done.filter(o => Pass.CommitKinds(o.kind)).map(_.ms)
    def avg(k: String): Double = perPass.map(_(k)).sum / perPass.size
    Outcome(done, walls, Map(
      "warmup_ms" -> warm.toMap, "batches" -> Batches.summary(),
      "commit_p50_ms" -> Stats.pct(commits, 0.5),
      "commit_p90_ms" -> Stats.pct(commits, 0.9),
      "visible_p50_ms" -> Stats.pct(visible.toSeq, 0.5),
      "bytes_per_user_byte" -> last.bytesPerUserByte(),
      "catalog.revisions" -> avg("revisions"),
      "catalog.files_written" -> avg("files"),
      "catalog.bytes_written" -> avg("bytes")))
  }

  object Pass {
    val CommitKinds: Set[String] =
      Set("create", "insert", "alter", "rowlevel", "branch", "rollback")
  }

  /** One pass over a fresh catalog directory. */
  final class Pass(ctx: Ctx, pass: Int, slices: String,
      src: Map[String, Seq[Slice]], runner: KeyRunner) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val visible = mutable.ArrayBuffer.empty[Double]
    private val tag = if (pass < 0) s"w${-pass}" else s"p$pass"
    private val dir = new java.io.File(ctx.out, s"catalog_$tag").getAbsolutePath
    private val ns = s"rt_$tag"
    private val cat = s"rtw_$tag"
    private val ro = s"rtr_$tag"
    private val source: SparkSession = ctx.spark.newSession()
    private val target: SparkSession = ctx.spark.newSession()
    private val plug = new WritableSnapshotCatalog
    private val rng = new scala.util.Random(ctx.seed)
    private var model = Map.empty[String, T]
    /** model as of each published revision, for rollback */
    private val byRev = mutable.Map.empty[Int, Map[String, T]]
    private val inserted = mutable.Map("orders_d" -> List.empty[Int],
      "lineitem_b" -> List.empty[Int])
    /** (revision before, table) of a row-level commit just made */
    private var undo: Option[(Int, String)] = None

    private def headRev: Int = {
      val h = new java.io.File(dir, "HEAD")
      if (!h.isFile) 0 else new String(java.nio.file.Files.readAllBytes(
        h.toPath), java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    }

    private def op(kind: String, label: String)(body: => Unit): Boolean = {
      val o = Main.timed(ctx, pass, label, kind, "catalog") { body; "" }
      ops += o
      o.ok
    }

    /** Commit, then read the changed table on the target until the read
      * matches the model (the read op fails if it never does). */
    private def commit(kind: String, table: String, label: String)
        (body: => Unit)(next: T => T): Unit = {
      val (before, rev) = (model, headRev)
      if (op(kind, label)(body)) {
        model = model.updated(table, next(model(table)))
        byRev(headRev) = model
        undo = if (kind == "rowlevel") Some((rev, table)) else None
        read(table)
      } else model = before
    }

    private def read(table: String): Unit = {
      val t = model(table)
      val want = checksum(t)
      val t0 = System.nanoTime()
      var seen = Seq.empty[Long]
      var tries = 0
      val ok = op("attach_read", s"read $table") {
        while (seen != want && tries < 20) {
          if (tries > 0) Thread.sleep(10)
          tries += 1
          val r = target.sql(checksumSql(s"$ro.$ns.$table", t.hasNote)).head()
          seen = (0 until 5).map(r.getLong)
        }
        require(seen == want,
          s"target read ${seen.mkString(",")} != model ${want.mkString(",")}")
      }
      if (ok) visible += (System.nanoTime() - t0) / 1e6
    }

    /** SELECT over a table's staged slices, shaped like the table. */
    private def selectSrc(table: String, t: T, where: String,
        price: String = "price_c"): String = {
      val lead = if (table == "orders_d") "orderdate" else "orderkey"
      val note = if (t.hasNote) ", id % 5 + 1 AS note_c" else ""
      s"SELECT id, $lead, $price AS price_c, qty$note FROM src_$table " +
        s"WHERE $where"
    }

    def run(): Unit = {
      CatalogTransfer.writeLocal(CatalogSnapshot(Nil, Nil), dir)
      source.conf.set(s"spark.sql.catalog.$cat",
        classOf[WritableSnapshotCatalog].getName)
      source.conf.set(s"spark.sql.catalog.$cat.path", dir)
      target.conf.set(s"spark.sql.catalog.$ro", classOf[SnapshotCatalog].getName)
      target.conf.set(s"spark.sql.catalog.$ro.path", dir)
      plug.initialize(s"${cat}_admin",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", dir)))
      source.read.parquet(s"$slices/orders.parquet")
        .createOrReplaceTempView("src_orders_d")
      source.read.parquet(s"$slices/lineitem.parquet")
        .createOrReplaceTempView("src_lineitem_b")

      op("create", "create namespace") {
        source.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
      }
      val empty = T(Map.empty, hasNote = false, widened = false)
      model = Map("orders_d" -> empty, "lineitem_b" -> empty)
      byRev(headRev) = model
      commit("create", "orders_d", "create orders_d") {
        source.sql(s"""CREATE TABLE $cat.$ns.orders_d
                      |(id BIGINT, orderdate TIMESTAMP, price_c BIGINT, qty INT)
                      |USING parquet PARTITIONED BY (days(orderdate))""".stripMargin)
      }(identity)
      commit("create", "lineitem_b", "create lineitem_b") {
        source.sql(s"""CREATE TABLE $cat.$ns.lineitem_b
                      |(id BIGINT, orderkey BIGINT, price_c BIGINT, qty INT)
                      |USING parquet PARTITIONED BY (bucket($Buckets, id))""".stripMargin)
      }(identity)
      // the same ops in every pass and for every seed: grow the tables
      // and their schemas, change rows, then maintenance beside the
      // streaming producer. The seed picks the slices and predicates and
      // orders the last phase; the commits keep one order, because the
      // cost of a row-level change depends on what landed before it.
      val O = "orders_d"
      val L = "lineitem_b"
      val streams: Seq[() => Unit] =
        keys.map(k => () => if (pass >= 0) ops += runner.exec(pass, k): Unit)
      for (t <- Seq(O, L, O, L)) insert(t)
      addColumn(O)
      widen(L)
      update(O)
      rollback()
      delete(L)
      merge(O)
      branch(L)
      rng.shuffle(Seq[() => Unit](() => vacuum(), () => transfer()) ++ streams)
        .foreach(_())
    }

    private def fq(table: String): String = s"$cat.$ns.$table"

    private def insert(table: String): Unit = {
      val pending = (0 until 10).filterNot(inserted(table).contains)
      val s = pending(rng.nextInt(pending.size))
      val t = model(table)
      commit("insert", table, s"insert $table slice $s") {
        source.sql(s"INSERT INTO ${fq(table)} ${selectSrc(table, t, s"slice = $s")}")
      } { m =>
        inserted(table) = s :: inserted(table)
        m.copy(rows = m.rows ++ src(table).filter(_.slice == s).map(r =>
          r.id -> R(r.price, r.qty, if (m.hasNote) noteOf(r.id) else 0L)))
      }
    }

    private def addColumn(table: String): Unit =
      commit("alter", table, s"alter $table add column") {
        source.sql(s"ALTER TABLE ${fq(table)} ADD COLUMN note_c BIGINT")
      }(_.copy(hasNote = true))

    private def widen(table: String): Unit =
      commit("alter", table, s"alter $table widen qty") {
        source.sql(s"ALTER TABLE ${fq(table)} ALTER COLUMN qty TYPE BIGINT")
      }(_.copy(widened = true))

    private def update(table: String): Unit = {
      val (m, r, k) = (3 + rng.nextInt(5), rng.nextInt(3), 1 + rng.nextInt(99))
      commit("rowlevel", table, s"update $table") {
        source.sql(s"UPDATE ${fq(table)} SET price_c = price_c + $k " +
          s"WHERE id % $m = $r")
      }(x => x.copy(rows = x.rows.map { case (id, v) =>
        id -> (if (id % m == r) v.copy(price = v.price + k) else v) }))
    }

    private def delete(table: String): Unit = {
      val (m, r) = (6 + rng.nextInt(6), rng.nextInt(6))
      commit("rowlevel", table, s"delete $table") {
        source.sql(s"DELETE FROM ${fq(table)} WHERE id % $m = $r")
      }(x => x.copy(rows = x.rows.filterNot { case (id, _) => id % m == r }))
    }

    /** Upsert a third of an inserted slice: matched rows are updated,
      * rows an earlier DELETE removed are inserted again. */
    private def merge(table: String): Unit = {
      val s = inserted(table)(rng.nextInt(inserted(table).size))
      val r = rng.nextInt(3)
      val rows = src(table).filter(x => x.slice == s && x.id % 3 == r)
      commit("rowlevel", table, s"merge $table") {
        source.sql(selectSrc(table, model(table), s"slice = $s AND id % 3 = $r",
          "price_c + 11")).createOrReplaceTempView("merge_src")
        source.sql(s"""MERGE INTO ${fq(table)} t USING merge_src u
                      |ON t.id = u.id
                      |WHEN MATCHED THEN UPDATE SET price_c = u.price_c
                      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      } { x =>
        x.copy(rows = x.rows ++ rows.map { y =>
          y.id -> x.rows.get(y.id).map(_.copy(price = y.price + 11))
            .getOrElse(R(y.price + 11, y.qty,
              if (x.hasNote) noteOf(y.id) else 0L))
        })
      }
    }

    /** Write-audit-publish: change a branch, then fast-forward main. */
    private def branch(table: String): Unit = {
      val bcat = s"${cat}_b"
      val (m, k) = (2 + rng.nextInt(4), 1 + rng.nextInt(50))
      commit("branch", table, s"branch $table") {
        plug.createBranch("b")
        source.conf.set(s"spark.sql.catalog.$bcat",
          classOf[WritableSnapshotCatalog].getName)
        source.conf.set(s"spark.sql.catalog.$bcat.path", plug.branchDir("b"))
        source.sql(s"UPDATE $bcat.$ns.$table SET price_c = price_c - $k " +
          s"WHERE id % $m = 0")
        plug.fastForward("b")
        plug.dropBranch("b")
      }(x => x.copy(rows = x.rows.map { case (id, v) =>
        id -> (if (id % m == 0) v.copy(price = v.price - k) else v) }))
    }

    /** Undo the row-level change just made: a forward commit whose
      * content is the revision before it. */
    private def rollback(): Unit = undo.foreach { case (prev, changed) =>
      commit("rollback", changed, s"rollback $changed") {
        plug.rollback(prev)
      }(_ => byRev(prev)(changed))
    }

    private def vacuum(): Unit =
      op("vacuum", "vacuum") {
        plug.vacuum(4)
        plug.gcGenerations()
      }

    /** importInto a fresh session's catalog, read both tables there by
      * name, and export the imported catalog again. */
    private def transfer(): Unit = {
      val s = ctx.spark.newSession()
      var snap: CatalogSnapshot = null
      op("import", "importInto") {
        snap = CatalogTransfer.readLocal(s"$dir/revs/$headRev")
        CatalogTransfer.importInto(s, snap)
        for ((table, t) <- model) {
          val r = s.sql(checksumSql(s"$ns.$table", t.hasNote)).head()
          val seen = (0 until 5).map(r.getLong)
          require(seen == checksum(t), s"imported $table reads " +
            s"${seen.mkString(",")} != model ${checksum(t).mkString(",")}")
        }
      }
      op("export", "export") {
        val back = CatalogTransfer.export(s, Seq(ns))
        require(back.tables.map(_.name).sorted == snap.tables.map(_.name).sorted,
          s"export lists ${back.tables.map(_.name)} after importing " +
            s"${snap.tables.map(_.name)}")
      }
    }

    /** Revision count, files and bytes under the catalog directory. */
    def storage(): Map[String, Double] = {
      val files = org.apache.commons.io.FileUtils.listFiles(
        new java.io.File(dir), null, true)
      import scala.jdk.CollectionConverters._
      Map("revisions" -> headRev.toDouble, "files" -> files.size.toDouble,
        "bytes" -> files.asScala.map(_.length).sum.toDouble)
    }

    /** Bytes under the catalog directory per byte of the live rows
      * written once as compact parquet. */
    def bytesPerUserByte(): Double = {
      val user = model.keys.map { table =>
        val out = new java.io.File(ctx.out, s"compact_$tag/$table").getPath
        target.table(s"$ro.$ns.$table").coalesce(1).write.parquet(out)
        org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(out))
      }.sum
      storage()("bytes") / math.max(1L, user)
    }
  }
}
