package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Database
import graft.core._

/** store_ops: a seeded mix of reads and writes against a [[Database]]
  * over one keyed table plus two small ones.
  *
  * Why: this is the reference's own surface (CRUD, COALESCE upsert,
  * predicate read). At this size an operation costs planning, job
  * scheduling and snapshot metadata, not data. Every write makes a new
  * snapshot, so the read after a write misses the store's per-instance
  * snapshot memo while repeated reads hit it.
  *
  * Every read is checked against an in-bench model of the table; the
  * model applies COALESCE upsert, plain-SET update and a delete that
  * keeps rows whose predicate is NULL. The final snapshot is compared
  * with the model row for row. */
object StoreOps extends Workload {
  val InitialRows = 150000
  val Owners = 5000
  val Regions: IndexedSeq[String] = (0 until 8).map(i => f"r$i%02d")
  val Statuses: IndexedSeq[String] = IndexedSeq("open", "closed", "hold")
  val Accounts = "accounts"

  final case class Acct(id: Long, owner: String, region: String,
      amount: Option[Double], score: Option[Int], status: Option[String],
      note: Option[String], updated: Long) {
    def toRow: Row = Row(id, owner, region, amount.map(Double.box).orNull,
      score.map(Int.box).orNull, status.orNull, note.orNull, updated)
    def value(c: String): Any = c match {
      case "id" => id
      case "owner" => owner
      case "region" => region
      case "amount" => amount.orNull
      case "score" => score.map(Int.box).orNull
      case "status" => status.orNull
      case "note" => note.orNull
      case "updated" => updated
    }
  }

  val Columns: Seq[ColumnSpec] = Seq(
    ColumnSpec("id", LongType), ColumnSpec("owner", StringType),
    ColumnSpec("region", StringType), ColumnSpec("amount", DoubleType),
    ColumnSpec("score", IntegerType), ColumnSpec("status", StringType),
    ColumnSpec("note", StringType), ColumnSpec("updated", LongType))
  val Schema: StructType = Ddl.toStruct(Columns)
  val ColumnNames: Seq[String] = Columns.map(_.name)

  final class State(val dir: Path, val db: Database, val store: TableStore,
      val model: mutable.LongMap[Acct], var maxId: Long, val rng: Random) {
    var nextOp = 0L
  }

  // ------------------------------------------------------------ set-up

  def setup(spark: SparkSession, dir: Path, seed: Long): State = {
    val root = dir.resolve("db").toString
    val db = new Database(spark, root)
    val gen = new Random(seed)
    val model = mutable.LongMap.empty[Acct]
    (0L until InitialRows).foreach(id => model(id) = randomAcct(gen, id, 0L))
    db.createTable(Accounts, Columns, primaryKey = Seq("id"))
    db.createTable("regions", Seq(ColumnSpec("region", StringType),
      ColumnSpec("name", StringType)), primaryKey = Seq("region"))
    db.createTable("owners", Seq(ColumnSpec("owner", StringType),
      ColumnSpec("tier", IntegerType)), primaryKey = Seq("owner"))
    db.upsert("regions", spark.createDataFrame(
      spark.sparkContext.parallelize(Regions.map(r => Row(r, s"region-$r")), 1),
      StructType.fromDDL("region STRING, name STRING")), Seq("region"))
    db.upsert("owners", spark.createDataFrame(
      spark.sparkContext.parallelize((0 until Owners).map(i => Row(owner(i), i % 4)), 4),
      StructType.fromDDL("owner STRING, tier INT")), Seq("owner"))
    db.upsert(Accounts, frame(spark, model.values.toSeq.sortBy(_.id)), Seq("id"))
    new State(dir, db, new TableStore(spark, root), model, InitialRows - 1L,
      new Random(seed * 31 + 7))
  }

  private def owner(i: Int): String = f"o$i%04d"
  private val NoteChars = "abcdefghijklmnopqrstuvwxyz0123456789".toCharArray

  private def randomAcct(r: Random, id: Long, updated: Long): Acct = Acct(id,
    owner(r.nextInt(Owners)), Regions(r.nextInt(Regions.size)),
    if (r.nextDouble() < 0.1) None else Some(r.nextInt(1000000) / 100.0),
    if (r.nextDouble() < 0.1) None else Some(r.nextInt(100)),
    if (r.nextDouble() < 0.1) None else Some(Statuses(r.nextInt(Statuses.size))),
    if (r.nextDouble() < 0.3) None else Some(new String(Array.fill(8)(NoteChars(r.nextInt(NoteChars.length))))),
    updated)

  private def frame(spark: SparkSession, rows: Seq[Acct]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.toRow),
      math.max(1, math.min(4, rows.size / 20000 + 1))), Schema)

  // --------------------------------------------------- the API under test

  /** The calls an op makes. [[Facade]] is the public [[Database]] a user
    * calls; [[Layered]] makes the same calls the facade is built from
    * (TableStore, Query, Mutations, Sql), each inside a span, and is the
    * mirror that [[Mode.Traced]] and [[Mode.Mirror]] decks run. A
    * traced run reports the mirror's gap to the facade as
    * `trace.mirror_gap_pct`. */
  trait Api {
    def get(t: String, cols: Seq[String], where: Seq[Pred], sortBy: Option[String],
        asc: Boolean, limit: Int, offset: Int): Array[Row]
    def count(t: String): Long
    def catalog(): (Seq[String], Seq[String], Boolean, Boolean)
    def sql(views: Seq[String], q: String): Array[Row]
    def upsert(t: String, data: DataFrame, pk: Seq[String]): DataFrame
    def update(t: String, data: DataFrame, on: Seq[String]): Long
    def delete(t: String, where: Seq[Pred]): Unit
  }

  final class Facade(db: Database) extends Api {
    def get(t: String, cols: Seq[String], where: Seq[Pred], sortBy: Option[String],
        asc: Boolean, limit: Int, offset: Int): Array[Row] =
      db.get(t, cols, where, sortBy, asc, limit, offset).collect()
    def count(t: String): Long = db.getTableCount(t)
    def catalog(): (Seq[String], Seq[String], Boolean, Boolean) =
      (db.getTables, db.getTableColumns(Accounts), db.checkTableExists("regions"),
        db.checkTableExists("missing_table"))
    def sql(views: Seq[String], q: String): Array[Row] = {
      views.foreach(v => db.registerView(v))
      db.executeRaw(q).collect()
    }
    def upsert(t: String, data: DataFrame, pk: Seq[String]): DataFrame =
      db.upsert(t, data, pk)
    def update(t: String, data: DataFrame, on: Seq[String]): Long = db.update(t, data, on)
    def delete(t: String, where: Seq[Pred]): Unit = db.delete(t, where)
  }

  /** Mirrors `graft.Database` call for call, for tables without
    * autoincrement columns (the only kind this workload creates). */
  final class Layered(spark: SparkSession, store: TableStore, tr: Tracer) extends Api {
    private def read(t: String) = tr.span("store.read")(store.read(t))
    private def write(t: String, df: => DataFrame) = {
      val built = tr.span("mutations.build") { val d = df; d.queryExecution.analyzed; d }
      tr.span("store.write")(store.write(t, built))
    }
    def get(t: String, cols: Seq[String], where: Seq[Pred], sortBy: Option[String],
        asc: Boolean, limit: Int, offset: Int): Array[Row] = {
      val src = read(t)
      val q = tr.span("query.build") {
        val d = Query.get(src, cols, where, sortBy.map(SortKey(_, asc)).toSeq, limit, offset)
        d.queryExecution.analyzed
        d
      }
      tr.span("spark.collect")(q.collect())
    }
    def count(t: String): Long = { val d = read(t); tr.span("spark.count")(d.count()) }
    def catalog(): (Seq[String], Seq[String], Boolean, Boolean) =
      tr.span("store.catalog")((store.listTables(), store.listColumns(Accounts),
        store.tableExists("regions"), store.tableExists("missing_table")))
    def sql(views: Seq[String], q: String): Array[Row] = {
      views.foreach(v => read(v).createOrReplaceTempView(v))
      val d = tr.span("sql.build") {
        require(Sql.parseAlterAddColumns(q).isEmpty)
        Sql.executeRaw(spark, q)
      }
      tr.span("spark.collect")(d.collect())
    }
    def upsert(t: String, data: DataFrame, pk: Seq[String]): DataFrame = {
      val target = read(t)
      write(t, Ddl.preserveMetadata(Mutations.upsert(target, data, pk), target.schema))
      tr.span("mutations.build")(Mutations.upsertedKeys(data, pk))
    }
    def update(t: String, data: DataFrame, on: Seq[String]): Long = {
      val target = read(t)
      val n = tr.span("spark.count")(Mutations.updateRowCount(target, data, on))
      write(t, Ddl.preserveMetadata(Mutations.update(target, data, on), target.schema))
      n
    }
    def delete(t: String, where: Seq[Pred]): Unit = {
      val target = read(t)
      write(t, Mutations.delete(target, where))
    }
  }

  // ------------------------------------------------------------ the ops

  /** One generated operation: `run` calls the API (timed), `check`
    * compares its result with the model, `apply` updates the model. */
  final case class Op(kind: String, isWrite: Boolean, batchRows: Int,
      run: Api => Any, check: Any => Option[String], apply: () => Unit = () => ())

  /** The op mix comes in decks of ten, six reads and four writes, each
    * deck shuffled by the seed: every deck has the same proportions, so
    * a run's latency figures do not depend on how the draw fell. The
    * count slot alternates with the catalog calls from deck to deck. A
    * traced run puts both in every deck, so that every traced deck,
    * and a probe's single deck, reaches both. */
  private val Reads = Seq("get_eq", "get_in", "get_range", "get_like", "count", "sql")
  private val Writes = Seq("upsert", "upsert", "update", "delete")

  private def deck(s: State, n: Long, traced: Boolean): Seq[String] = s.rng.shuffle(
    (if (traced) Reads :+ "catalog"
     else Reads.map(k => if (k == "count" && n % 2 == 1) "catalog" else k)) ++ Writes)

  /** A key skewed towards recent rows: the distance back from the
    * newest id is log-uniform, a Zipf(1)-like tail. */
  private def recentKey(s: State): Long = {
    val back = math.exp(s.rng.nextDouble() * math.log(s.maxId + 2.0)).toLong - 1L
    math.max(0L, s.maxId - back)
  }

  private def distinctRecentKeys(s: State, n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += recentKey(s)
    out.toSeq
  }

  private def rowsOf(rows: Array[Row], cols: Seq[String]): Seq[Seq[Any]] =
    rows.toSeq.map(r => cols.indices.map(i => r.get(i)))

  private def expectRows(kind: String, got: Any, want: Seq[Seq[Any]],
      ordered: Boolean): Option[String] = {
    val g = got.asInstanceOf[Seq[Seq[Any]]]
    def key(r: Seq[Any]) = r.head.asInstanceOf[Number].longValue
    val (a, b) = if (ordered) (g, want) else (g.sortBy(key), want.sortBy(key))
    if (a == b) None
    else Some(s"$kind: got ${a.size} rows ${a.take(3)}, want ${b.size} rows ${b.take(3)}")
  }

  private def selectModel(s: State, test: Acct => Boolean): Seq[Acct] =
    s.model.valuesIterator.filter(test).toSeq

  def nextOp(spark: SparkSession, s: State, kind: String): Op = {
    val m = s.model
    kind match {
      case "get_eq" =>
        val k = recentKey(s)
        Op(kind, false, 0,
          api => rowsOf(api.get(Accounts, Nil, Seq(Pred.Eq("id", k)), None, true, 0, 0), ColumnNames),
          got => expectRows(kind, got, m.get(k).toSeq.map(a => ColumnNames.map(a.value)), false))
      case "get_in" =>
        val ks = distinctRecentKeys(s, 10)
        Op(kind, false, 0,
          api => rowsOf(api.get(Accounts, Nil, Seq(Pred.In("id", ks)), None, true, 0, 0), ColumnNames),
          got => expectRows(kind, got, ks.flatMap(m.get).map(a => ColumnNames.map(a.value)), false))
      case "get_range" =>
        val hi = recentKey(s)
        val lo = hi - 5000
        val minScore = s.rng.nextInt(60)
        val cols = Seq("id", "owner", "amount", "score")
        Op(kind, false, 0,
          api => rowsOf(api.get(Accounts, cols,
            Seq(Pred.Between("id", lo, hi), Pred.Op("score", ">=", minScore)),
            Some("id"), false, 20, 5), cols),
          got => expectRows(kind, got, selectModel(s, a => a.id >= lo && a.id <= hi &&
            a.score.exists(_ >= minScore)).sortBy(-_.id).slice(5, 25)
            .map(a => cols.map(a.value)), true))
      case "get_like" =>
        val hi = recentKey(s)
        val lo = hi - 20000
        val prefix = f"o0${s.rng.nextInt(50)}%02d"
        val cols = Seq("id", "owner", "status")
        Op(kind, false, 0,
          api => rowsOf(api.get(Accounts, cols,
            Seq(Pred.Like("owner", prefix + "%"), Pred.Between("id", lo, hi)),
            Some("id"), true, 50, 0), cols),
          got => expectRows(kind, got, selectModel(s, a => a.id >= lo && a.id <= hi &&
            a.owner.startsWith(prefix)).sortBy(_.id).take(50)
            .map(a => cols.map(a.value)), true))
      case "count" =>
        Op(kind, false, 0, api => api.count(Accounts),
          got => if (got == m.size.toLong) None else Some(s"count: got $got, want ${m.size}"))
      case "catalog" =>
        val want = (Seq(Accounts, "owners", "regions"), ColumnNames, true, false)
        Op(kind, false, 0, api => api.catalog(),
          got => if (got == want) None else Some(s"catalog: got $got, want $want"))
      case "sql" =>
        val status = Statuses(s.rng.nextInt(Statuses.size))
        val from = recentKey(s) - 50000
        val q = "SELECT r.name AS name, count(*) AS n, sum(a.score) AS s " +
          "FROM accounts a JOIN regions r ON a.region = r.region " +
          s"WHERE a.status = '$status' AND a.id >= $from GROUP BY r.name"
        Op(kind, false, 0,
          api => api.sql(Seq(Accounts, "regions"), q).toSeq
            .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
            .sortBy(_._1),
          got => {
            val sel = m.valuesIterator.filter(a => a.status.contains(status) && a.id >= from).toSeq
            val want = sel.groupBy(_.region).toSeq.map { case (r, as) =>
              val scores = as.flatMap(_.score)
              (s"region-$r", as.size.toLong, if (scores.isEmpty) None else Some(scores.map(_.toLong).sum))
            }.sortBy(_._1)
            if (got == want) None else Some(s"sql: got $got, want $want")
          })
      case "upsert" =>
        val n = 1000 + s.rng.nextInt(1001)
        val fresh = (1 to n / 2).map(i => s.maxId + i)
        val old = distinctRecentKeys(s, n - n / 2)
        val batch = (fresh ++ old).map(id => randomAcct(s.rng, id, s.nextOp))
        s.maxId += n / 2
        val df = frame(spark, batch)
        // the returned key frame is counted by the check, outside the timed call
        Op(kind, true, n, api => api.upsert(Accounts, df, Seq("id")),
          got => {
            val keys = got.asInstanceOf[DataFrame].count()
            if (keys == n.toLong) None else Some(s"upsert: got $keys keys, want $n")
          },
          () => batch.foreach { b =>
            m(b.id) = m.get(b.id) match {
              case None => b
              case Some(o) => Acct(b.id, b.owner, b.region, b.amount.orElse(o.amount),
                b.score.orElse(o.score), b.status.orElse(o.status), b.note.orElse(o.note), b.updated)
            }
          })
      case "update" =>
        val n = 100 + s.rng.nextInt(201)
        val keys = distinctRecentKeys(s, n - n / 10) ++ (1 to n / 10).map(i => s.maxId + 1000000L + i)
        val changes = keys.map(k => (k,
          if (s.rng.nextDouble() < 0.2) None else Some(Statuses(s.rng.nextInt(Statuses.size))),
          if (s.rng.nextDouble() < 0.2) None else Some(s.rng.nextInt(100))))
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
          changes.map { case (k, st, sc) => Row(k, st.orNull, sc.map(Int.box).orNull) }, 1),
          StructType.fromDDL("id BIGINT, status STRING, score INT"))
        val matched = keys.count(m.contains).toLong
        Op(kind, true, n, api => api.update(Accounts, df, Seq("id")),
          got => if (got == matched) None else Some(s"update: got $got matched, want $matched"),
          () => changes.foreach { case (k, st, sc) =>
            m.get(k).foreach(o => m(k) = o.copy(status = st, score = sc))
          })
      case "delete" =>
        val hi = recentKey(s)
        val lo = hi - 2000
        val below = 10 + s.rng.nextInt(20)
        val doomed = m.valuesIterator.filter(a => a.id >= lo && a.id <= hi &&
          a.score.exists(_ < below)).map(_.id).toSeq
        Op(kind, true, doomed.size,
          api => api.delete(Accounts, Seq(Pred.Between("id", lo, hi), Pred.Op("score", "<", below))),
          _ => None,
          () => doomed.foreach(m.remove))
    }
  }

  // -------------------------------------------------------- the loop

  def measure(spark: SparkSession, s: State, seconds: Double, tr: Tracer): Phase = {
    val facade = new Facade(s.db)
    val layered = new Layered(spark, s.store, tr)
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    var checkedReads, badReads = 0L
    val samples = mutable.ArrayBuffer.empty[Sample]
    val writeAmp = mutable.ArrayBuffer.empty[Double]
    var fsOps = 0L

    def one(kind: String, mode: Mode, timed: Boolean): Unit = {
      val op = nextOp(spark, s, kind)
      val id = s.nextOp
      s.nextOp += 1
      attempted += 1
      val traced = mode == Mode.Traced
      val fs0 = Proc.fsStats()
      val t0 = System.nanoTime()
      val res = try Right(tr.op(id, s"facade.${op.kind}", traced)(
          op.run(if (mode == Mode.Public) facade else layered)))
        catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val fs = Proc.fsStats().minus(fs0)
      res match {
        case Left(e) =>
          failed += 1
          problems += s"${op.kind} failed: $e"
        case Right(v) =>
          if (timed) samples += Sample(mode, op.kind, ms)
          val bad = op.check(v)
          if (!op.isWrite) { checkedReads += 1; if (bad.nonEmpty) badReads += 1 }
          problems ++= bad
          op.apply()
          if (traced) {
            fsOps += fs.ops
            if (op.isWrite && op.kind != "delete") {
              val live = Proc.duBytes(currentSnapshot(s))
              if (live > 0 && s.model.nonEmpty)
                writeAmp += fs.bytesWritten / (op.batchRows * live.toDouble / s.model.size)
            }
          }
      }
    }

    // every op kind once, checked but not timed (set-up ran the upserts)
    if (!tr.probe) (Reads ++ Seq("catalog", "update", "delete")).foreach(one(_, Mode.Public, timed = false))
    tr.start()
    var decks = 0L
    Main.loop(seconds, tr) { mode =>
      deck(s, decks, tr.enabled).foreach(one(_, mode, timed = true))
      decks += 1
    }
    tr.stop()

    val public = samples.filter(_.mode == Mode.Public)
    val isWrite = Writes.toSet
    val all = public.map(_.ms).toSeq
    val reads = public.filterNot(x => isWrite(x.kind)).map(_.ms).toSeq
    val writes = public.filter(x => isWrite(x.kind)).map(_.ms).toSeq
    val kindMedian = public.groupBy(_.kind).view.mapValues(xs => Stats.median(xs.map(_.ms).toSeq)).toMap
    val figures = Map(
      "throughput" -> all.size / math.max(1e-9, all.sum / 1000.0),
      "quality" -> (if (checkedReads == 0) 0.0 else (checkedReads - badReads).toDouble / checkedReads),
      "ops_per_s" -> all.size / math.max(1e-9, all.sum / 1000.0),
      "read_p50_ms" -> Stats.median(reads), "read_p90_ms" -> Stats.percentile(reads, 90),
      "write_p50_ms" -> Stats.median(writes), "write_p90_ms" -> Stats.percentile(writes, 90),
      "reads" -> reads.size.toDouble, "writes" -> writes.size.toDouble,
      "table_rows" -> s.model.size.toDouble) ++
      kindMedian.map { case (k, m) => s"$k.p50_ms" -> m } ++ Map(
      "error_rate" -> failed.toDouble / math.max(1L, attempted)) ++ tr.sparkByOpName
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val tableDir = s.dir.resolve("db").resolve(Accounts)
        val n = math.max(1, tr.ops).toDouble
        Seq("get", "count", "catalog", "sql", "upsert", "update", "delete").map(k =>
          s"facade.${k}_ms" -> Stats.mean(tr.spans.filter(sp =>
            sp.parent == -1 && sp.name.startsWith(s"facade.$k")).map(_.ms))).toMap ++
        Map(
          "store.read_ms" -> tr.meanMs("store.read"),
          "store.write_ms" -> tr.meanMs("store.write"),
          "store.fs_ops" -> fsOps / n,
          "store.write_amp" -> Stats.mean(writeAmp.toSeq),
          "store.space_amp" -> Proc.duBytes(tableDir).toDouble /
            math.max(1L, Proc.duBytes(currentSnapshot(s))),
          "mutations.build_ms" -> tr.meanMs("mutations.build"),
          "query.build_ms" -> tr.meanMs("query.build"),
          "sql.build_ms" -> tr.meanMs("sql.build"),
          "jvm.gc_ms" -> tr.gcMsSinceStart / math.max(1, samples.size),
          "cache.rdds_after_release" -> spark.sparkContext.getPersistentRDDs.size.toDouble) ++
        tr.sparkPerOp ++
        tr.selfMsPerOp.map { case (l, v) => s"self.${l}_ms" -> v }
      }
    Phase(samples.toSeq, Writes.toSet, attempted, failed, problems.toSeq, figures, layers, tr.spans)
  }

  private def currentSnapshot(s: State): Path = {
    val dir = s.dir.resolve("db").resolve(Accounts)
    val v = new String(Files.readAllBytes(dir.resolve("_LATEST")), "UTF-8").trim
    dir.resolve(s"v$v")
  }

  def finish(spark: SparkSession, s: State): Checks = {
    val got = s.db.getTable(Accounts).collect()
      .map(r => ColumnNames.indices.map(i => r.get(i))).sortBy(_.head.asInstanceOf[Long]).toSeq
    val want = s.model.values.toSeq.sortBy(_.id).map(a => ColumnNames.map(a.value))
    val problems =
      if (got == want) Nil
      else {
        val diff = got.zipAll(want, Nil, Nil).find { case (a, b) => a != b }
        Seq(s"final snapshot: ${got.size} rows vs model ${want.size}; first difference $diff")
      }
    Checks(problems, Map("final_rows" -> got.size.toDouble))
  }
}
