package graft.sources.connector

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.MessageStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Model-based safety net for the connector's row-level verbs: seeded
  * random sequences of writes, upserts, deletes, TTL expiry and
  * compactions run against a real table and an in-memory multiset model
  * side by side. After every step the current read must equal the model;
  * at the end every retained `option("version", v)` read must equal the
  * model at v, and (feed on) the change feed's net rows per step must
  * equal the model's diff across that step.
  *
  * RACES: at seeded steps one other op commits between the step's
  * snapshot pin and its flip (the [[TokenRangeOps.onSnapshotPinned]]
  * seam). A step that retried re-ran from the racer's snapshot, so the
  * model applies racer then step; a step that did not retry committed
  * against its own pin beside the racer, so each op's removals apply to
  * the shared starting state and both additions land. Every seam call
  * is one attempt of the step, which is why the automatic vector sweep
  * (itself a pinned rewrite) is off in raced sequences —
  * `compactVectors` runs as an explicit step instead. */
class TokenRangeModelSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One op's effect on a model state: rows matching `remove` go, `add`
    * rows arrive. */
  private final case class Eff[R](remove: R => Boolean, add: Seq[R])

  private def applyEff[R](s: Seq[R], e: Eff[R]): Seq[R] =
    s.filterNot(e.remove) ++ e.add

  /** One drawn sequence, generic over the model row `R` and op `O`. */
  private final case class Machine[R, O](
      dir: String,
      eff: (O, Seq[R]) => Eff[R],
      run: O => Unit,
      read: Option[Int] => Seq[String],
      show: R => String,
      // a further per-step check of the live table against the model
      extra: Seq[R] => Unit = (_: Seq[R]) => (),
      // binds a drawn op to the model state it runs against
      resolve: (O, Seq[R]) => O = (o: O, _: Seq[R]) => o)

  /** Per-step record: the version after the step and every state an
    * intermediate version published during the step may hold. */
  private final case class StepRec[R](before: Seq[R], racer: Option[Seq[R]],
      after: Seq[R], version: Int)

  private def counts(rows: Seq[String]): Map[String, Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Run `step` with `racer` committing at the step's first snapshot
    * pin. Returns (racer ran, step retried). */
  private def raced(racer: => Unit)(step: => Unit): (Boolean, Boolean) = {
    var pins = 0
    var ran = false
    TokenRangeOps.onSnapshotPinned = () => {
      pins += 1
      if (!ran) {
        ran = true
        TokenRangeOps.onSnapshotPinned = () => ()
        racer
        TokenRangeOps.onSnapshotPinned = () => pins += 1
      }
    }
    try step finally TokenRangeOps.onSnapshotPinned = () => ()
    (ran, pins > 1)
  }

  /** Run `steps` (`afterOpen` right after the opening step, which
    * creates the table) checking the model after each; then check every
    * retained version. */
  private def runMachine[R, O](m: Machine[R, O], steps: Seq[(O, Option[O])],
      afterOpen: () => Unit): Seq[StepRec[R]] = {
    var model = Seq.empty[R]
    var nRaced = 0
    var nRetried = 0
    val recs = Seq.newBuilder[StepRec[R]]
    steps.zipWithIndex.foreach { case ((drawn, racer), i) =>
      val s0 = model
      val op = m.resolve(drawn, s0)
      val (ran, retried) = racer match {
        case Some(r) => raced(m.run(r))(m.run(op))
        case None => m.run(op); (false, false)
      }
      if (ran) nRaced += 1
      if (retried) nRetried += 1
      val racerState = racer.filter(_ => ran).map(r => applyEff(s0, m.eff(r, s0)))
      model = (racer.filter(_ => ran), retried) match {
        case (None, _) => applyEff(s0, m.eff(op, s0))
        case (Some(r), true) =>
          val s1 = applyEff(s0, m.eff(r, s0))
          applyEff(s1, m.eff(op, s1))
        case (Some(r), false) =>
          val e1 = m.eff(op, s0); val e2 = m.eff(r, s0)
          s0.filterNot(x => e1.remove(x) || e2.remove(x)) ++ e1.add ++ e2.add
      }
      val got = m.read(None).sorted
      val want = model.map(m.show).sorted
      assert(got == want,
        s"step $i ${op}${if (drawn == op) "" else s" (drawn as $drawn)"}${racer.map(r => s" raced by $r (ran=$ran, retried=$retried)").getOrElse("")}:" +
          s"\n  table-only: ${got.diff(want).take(8)}\n  model-only: ${want.diff(got).take(8)}")
      m.extra(model)
      recs += StepRec(s0, racerState, model,
        TokenRangeSource.currentVersion(m.dir).getOrElse(0))
      if (i == 0) afterOpen()
    }
    val out = recs.result()
    info(s"${steps.size} steps at ${m.dir}: $nRaced raced, $nRetried retried, " +
      s"${TokenRangeSource.versions(m.dir).size} versions")
    // every retained version reads as the model state it published: a
    // step's own version its final state, a version in between the step's
    // starting state or its racer's
    TokenRangeSource.versions(m.dir).foreach { v =>
      val got = m.read(Some(v)).sorted
      val rec = out.find(_.version >= v).getOrElse(
        fail(s"version $v was published after the last step"))
      val allowed =
        if (rec.version == v) Seq(rec.after)
        else Seq(rec.before, rec.after) ++ rec.racer
      assert(allowed.exists(s => s.map(m.show).sorted == got),
        s"version $v matches no model state of its step: ${got.take(8)}")
    }
    out
  }

  // ---- clustered BIGINT-keyed table ------------------------------------

  /** (pk, ck, ts µs, v) — `None` is NULL. */
  private type CRow = (Long, Option[Long], Option[Long], Option[String])

  private sealed trait COp
  private final case class Append(rows: Seq[CRow]) extends COp
  private final case class Upsert(rows: Seq[CRow], mode: String) extends COp
  private final case class UpsertCells(cells: Seq[(Long, String)]) extends COp
  private final case class DeleteKeys(keys: Seq[Long], mode: String) extends COp
  private final case class DeleteCkRange(key: Long, lo: Long, hi: Long,
      mode: String) extends COp
  // a range delete whose bounds are stored ck values of live rows, picked
  // when the step runs (see `liveRange`)
  private final case class LiveCkRange(pick: Int, loPick: Int, mode: String)
      extends COp
  private final case class Expire(cutoff: Long, mode: String) extends COp
  private final case class Compact(rollRows: Option[Long]) extends COp
  private case object CompactVectors extends COp
  private case object CompactFragmented extends COp

  private val cDdl = "pk BIGINT, ck BIGINT, ts TIMESTAMP, v STRING"
  private val cRowSchema =
    StructType.fromDDL("pk BIGINT, ck BIGINT, us BIGINT, v STRING")

  private def cEff(op: COp, s: Seq[CRow]): Eff[CRow] = op match {
    case Append(rows) => Eff(_ => false, rows)
    case Upsert(rows, _) =>
      val keys = rows.map(_._1).toSet
      Eff(r => keys(r._1), rows)
    case UpsertCells(cells) =>
      val in = cells.toMap
      val merged = s.filter(r => in.contains(r._1))
        .map(r => r.copy(_4 = Some(in(r._1))))
      val fresh = cells.filterNot(c => s.exists(_._1 == c._1))
        .map(c => (c._1, None, None, Some(c._2)))
      Eff(r => in.contains(r._1), merged ++ fresh)
    case DeleteKeys(keys, _) => Eff(r => keys.contains(r._1), Nil)
    case DeleteCkRange(key, lo, hi, _) =>
      Eff(r => r._1 == key && r._2.exists(c => c >= lo && c < hi), Nil)
    case Expire(cutoff, _) => Eff(r => r._3.exists(_ <= cutoff), Nil)
    case _: Compact | CompactVectors | CompactFragmented => Eff(_ => false, Nil)
    case l: LiveCkRange => cEff(liveRange(l, s), s)
  }

  /** `hi` is the ck of a picked live row, `lo` a smaller ck of the same
    * partition (or `hi` - 10): the row at `hi` must survive, and when it
    * shares a file with a deleted row that file is split, not kept. */
  private def liveRange(l: LiveCkRange, s: Seq[CRow]): DeleteCkRange = {
    val live = s.collect { case (pk, Some(ck), _, _) => (pk, ck) }.distinct.sorted
    if (live.isEmpty) DeleteCkRange(0L, 0L, 0L, l.mode)
    else {
      val (pk, hi) = live(l.pick % live.size)
      val below = live.collect { case (`pk`, ck) if ck < hi => ck }
      val lo = if (below.isEmpty) hi - 10L else below(l.loPick % below.size)
      DeleteCkRange(pk, lo, hi, l.mode)
    }
  }

  private def cFrame(rows: Seq[CRow]): DataFrame =
    spark.createDataFrame(rows.map { case (p, c, t, v) =>
      Row(p, c.map(Long.box).orNull, t.map(Long.box).orNull, v.orNull)
    }.asJava, cRowSchema)
      .select(col("pk"), col("ck"), timestamp_micros(col("us")).as("ts"), col("v"))

  private def cRun(dir: String)(op: COp): Unit = op match {
    case Append(rows) =>
      cFrame(rows).write.format(fmt).option("pk", "pk").option("ck", "ck")
        .option("schema", cDdl).mode("append").save(dir)
    case Upsert(rows, mode) =>
      TokenRangeOps.upsert(spark, dir, "pk", cFrame(rows), mode)
    case UpsertCells(cells) =>
      val s2 = spark; import s2.implicits._
      TokenRangeOps.upsertCells(spark, dir, "pk", cells.toDF("pk", "v"))
    case DeleteKeys(keys, mode) =>
      TokenRangeOps.deleteKeys(spark, dir, "pk", keys, mode)
    case DeleteCkRange(key, lo, hi, mode) =>
      TokenRangeOps.deleteCkRange(spark, dir, "pk", key, lo, hi, mode)
    case l: LiveCkRange =>
      throw new IllegalStateException(s"$l runs only once resolved")
    case Expire(cutoff, mode) =>
      TokenRangeOps.expire(spark, dir, "pk", "ts", cutoff, mode)
    case Compact(roll) => TokenRangeOps.compact(spark, dir, "pk", roll)
    case CompactVectors => TokenRangeOps.compactVectors(spark, dir, 1)
    case CompactFragmented => TokenRangeOps.compactFragmented(spark, dir, 2)
  }

  private def cShow(r: CRow): String =
    s"${r._1}|${r._2.getOrElse("null")}|${r._3.getOrElse("null")}|${r._4.getOrElse("null")}"

  private def cRead(dir: String)(version: Option[Int]): Seq[String] =
    spark.read.format(fmt).option("pk", "pk")
      .options(version.map(v => "version" -> v.toString).toMap).load(dir)
      .select(col("pk"), col("ck"), unix_micros(col("ts")), col("v"))
      .collect().toSeq.map(r => cShow((r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.getString(3)))))

  private val modes = Gen.oneOf("cow", "dv")
  private val pkGen = Gen.choose(0L, 7L)

  // ck and ts values, range bounds and TTL cutoffs share one coarse grid,
  // so drawn bounds land exactly on stored values (the inclusive and
  // exclusive edges get exercised)
  private def grid(max: Long, step: Long): Gen[Long] =
    Gen.choose(0L, max / step).map(_ * step)

  private def cRowGen(tag: String): Gen[CRow] = for {
    pk <- pkGen
    ck <- grid(90L, 10L)
    ts <- Gen.frequency(9 -> grid(9500L, 500L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
  } yield (pk, Some(ck), ts, Some(tag))

  private def cOpGen(i: Int): Gen[COp] = Gen.frequency(
    5 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, cRowGen(s"a$i")))
      .map(rows => Append(rows.zipWithIndex.map { case (r, j) =>
        r.copy(_4 = Some(s"a$i.$j")) })),
    2 -> (for {
      keys <- Gen.choose(1, 3).flatMap(n => Gen.pick(n, 0L to 7L))
      rows <- Gen.sequence[List[CRow], CRow](keys.toList.map(k =>
        cRowGen(s"u$i.$k").map(_.copy(_1 = k))))
      mode <- modes
    } yield Upsert(rows, mode)),
    1 -> Gen.choose(1, 3).flatMap(n => Gen.pick(n, 0L to 7L))
      .map(keys => UpsertCells(keys.toSeq.map(k => (k, s"c$i.$k")))),
    2 -> (for {
      keys <- Gen.choose(1, 2).flatMap(n => Gen.pick(n, 0L to 7L))
      mode <- modes
    } yield DeleteKeys(keys.toSeq, mode)),
    2 -> (for {
      key <- pkGen; lo <- grid(80L, 10L); len <- grid(50L, 10L)
      mode <- modes
    } yield DeleteCkRange(key, lo, lo + len, mode)),
    2 -> (for {
      pick <- Gen.choose(0, 999); loPick <- Gen.choose(0, 999); mode <- modes
    } yield LiveCkRange(pick, loPick, mode)),
    1 -> (for { c <- grid(3000L, 500L); mode <- modes } yield Expire(c, mode)),
    1 -> Gen.oneOf(None, Some(2L)).map(Compact(_)),
    1 -> Gen.const(CompactVectors),
    1 -> Gen.const(CompactFragmented))

  private def racerGen(i: Int): Gen[COp] = Gen.oneOf(
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, cRowGen(s"r$i")))
      .map(rows => Append(rows.zipWithIndex.map { case (r, j) =>
        r.copy(_4 = Some(s"r$i.$j")) })),
    pkGen.flatMap(k => modes.map(m => DeleteKeys(Seq(k), m))),
    pkGen.flatMap(k => cRowGen(s"ru$i").map(r => Upsert(Seq(r.copy(_1 = k)), "cow"))),
    Gen.const(Compact(None)))

  /** `n` steps from `seed`: an opening append, then drawn ops; a raced
    * step (probability `raceP`, never an append) carries its racer. */
  private def draw[O](seed: Long, n: Int, first: O, op: Int => Gen[O],
      racer: Int => Gen[O], raceP: Int, isAppend: O => Boolean)
      : Seq[(O, Option[O])] = {
    var s = Seed(seed)
    def next[T](g: Gen[T]): T = {
      val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
    }
    (first, None) +: (1 until n).map { i =>
      val o = next(op(i))
      val r = next(Gen.choose(0, 99))
      (o, if (r < raceP && !isAppend(o)) Some(next(racer(i))) else None)
    }
  }

  private def clustered(seed: Long, n: Int, raceP: Int, feed: Boolean,
      sweepAfter: Int): Unit = {
    val dir = freshDir(s"graft_tr_model_$seed")
    val steps = draw[COp](seed, n,
      Append((0L until 8L).map(k => (k, Some(k * 10), Some(k * 1000), Some(s"seed$k")))),
      cOpGen, racerGen, raceP, _.isInstanceOf[Append])
    val recs = runMachine(Machine[CRow, COp](dir, cEff, cRun(dir), cRead(dir), cShow,
      resolve = (o, s) => o match {
        case l: LiveCkRange => liveRange(l, s)
        case _ => o
      }),
      steps, () => {
        TokenRangeOps.setVectorCompaction(dir, sweepAfter)
        if (feed) TokenRangeOps.enableChangeFeed(dir)
      })
    if (feed) {
      // the feed is on from the first drawn step: each step's net feed
      // rows (inserts and postimages add, deletes and preimages remove)
      // equal the model's multiset diff across the step
      val rows = spark.read.format(fmt).option("pk", "pk")
        .option("changeFeed", "true")
        .option("startingVersion", (recs.head.version + 1).toString).load(dir)
        .select(col("pk"), col("ck"), unix_micros(col("ts")), col("v"),
          col(TokenRangeSource.ChangeTypeCol), col(TokenRangeSource.CommitVersionCol))
        .collect().toSeq
      recs.sliding(2).zipWithIndex.foreach { case (Seq(prev, rec), i) =>
        val net = rows
          .filter(r => r.getInt(5) > prev.version && r.getInt(5) <= rec.version)
          .map { r =>
            val shown = cShow((r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
              Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.getString(3))))
            shown -> (r.getString(4) match {
              case "insert" | "update_postimage" => 1
              case "delete" | "update_preimage" => -1
            })
          }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }.filter(_._2 != 0)
        val a = counts(rec.after.map(cShow)); val b = counts(prev.after.map(cShow))
        val want = (a.keySet ++ b.keySet)
          .map(k => k -> (a.getOrElse(k, 0) - b.getOrElse(k, 0))).toMap.filter(_._2 != 0)
        assert(net == want,
          s"feed of step ${i + 1} (${steps(i + 1)._1}): feed net $net, model diff $want")
      }
    }
  }

  test("clustered table: drawn sequences with races match the model at every step, version and feed range") {
    clustered(seed = 11L, n = 30, raceP = 30, feed = true, sweepAfter = 0)
    clustered(seed = 12L, n = 30, raceP = 30, feed = false, sweepAfter = 0)
  }

  test("clustered table: the automatic vector sweep preserves content") {
    clustered(seed = 13L, n = 20, raceP = 0, feed = false, sweepAfter = 2)
  }

  // ---- MessageStore keyspace -------------------------------------------

  /** (user_id, username, email, password, write order) — the order is the
    * model's stand-in for `write_seq`, which every writer draws from the
    * clock: a step at index i writes at 2i, its racer (which commits
    * inside the step, after the step drew its stamp) at 2i + 1. */
  private type URow = (String, String, String, String, Long)
  private type UIn = (String, String, String, String)

  private sealed trait UOp
  private final case class InsertUsers(rows: Seq[UIn], at: Long) extends UOp
  private final case class UpsertUsers(rows: Seq[UIn], at: Long) extends UOp
  private final case class DeleteUsers(names: Seq[String]) extends UOp
  private case object CompactUsers extends UOp

  /** `compactUsers`'s and `latestUsers`'s pick: per username the newest
    * write, then the greatest user_id. */
  private def lww(s: Seq[URow]): Seq[URow] =
    s.groupBy(_._2).values.map(_.maxBy(r => (r._5, r._1))).toSeq

  private def uShow(r: URow): String = s"${r._1}|${r._2}|${r._3}|${r._4}"

  private def uEff(op: UOp, s: Seq[URow]): Eff[URow] = op match {
    case InsertUsers(rows, at) =>
      Eff(_ => false, rows.map { case (a, b, c, d) => (a, b, c, d, at) })
    case UpsertUsers(rows, at) =>
      val keys = rows.map(_._2).toSet
      Eff(r => keys(r._2), rows.map { case (a, b, c, d) => (a, b, c, d, at) })
    case DeleteUsers(ns) => Eff(r => ns.contains(r._2), Nil)
    case CompactUsers => Eff(_ => true, lww(s))
  }

  private val names = (0 until 6).map(i => s"user$i")

  private def uRowsGen(tag: String): Gen[Seq[UIn]] =
    Gen.choose(1, 3).flatMap(n => Gen.pick(n, names)).flatMap(ns =>
      Gen.sequence[List[UIn], UIn](ns.toList.map(n => Gen.choose(0, 9).map(u =>
        (s"u$u", n, s"$n.$tag@x.io", s"pw$tag"))))).map(_.toSeq)

  private def uOpGen(i: Int): Gen[UOp] = Gen.frequency(
    3 -> uRowsGen(s"i$i").map(InsertUsers(_, 2L * i)),
    2 -> uRowsGen(s"u$i").map(UpsertUsers(_, 2L * i)),
    2 -> Gen.choose(1, 2).flatMap(n => Gen.pick(n, names)).map(ns => DeleteUsers(ns.toSeq)),
    2 -> Gen.const(CompactUsers))

  private def uRacerGen(i: Int): Gen[UOp] = Gen.oneOf(
    uRowsGen(s"r$i").map(InsertUsers(_, 2L * i + 1)),
    Gen.oneOf(names).map(n => DeleteUsers(Seq(n))))

  test("MessageStore keyspace: inserts, upserts, vector deletes and compactUsers match the model") {
    val ks = s"ks_model_${System.nanoTime()}"
    val store = new MessageStore(spark, ks)
    store.createKeyspace(); store.createTables()
    val dir = store.tablePath("users")
    val provider = classOf[TokenRangeSource].getName
    val run: UOp => Unit = {
      case InsertUsers(rows, _) => store.insertUsers(rows)
      case UpsertUsers(rows, _) =>
        val s2 = spark; import s2.implicits._
        // the clock value a writer stamps: later than every earlier
        // write's, earlier than every later one's
        TokenRangeOps.upsert(spark, dir, "username",
          rows.toDF("user_id", "username", "email", "password")
            .withColumn("write_seq", lit(System.currentTimeMillis() * 1000L)))
      case DeleteUsers(ns) => TokenRangeOps.deleteKeys(spark, dir, "username", ns, "dv")
      case CompactUsers => store.compactUsers()
    }
    val read: Option[Int] => Seq[String] = v =>
      spark.read.format(provider).option("pk", "username")
        .options(v.map(x => "version" -> x.toString).toMap).load(dir)
        .select("user_id", "username", "email", "password").collect().toSeq
        .map(r => (0 until 4).map(r.getString).mkString("|"))
    val extra: Seq[URow] => Unit = model => {
      val got = store.latestUsers().select("user_id", "username", "email", "password")
        .collect().toSeq.map(r => (0 until 4).map(r.getString).mkString("|")).sorted
      assert(got == lww(model).map(uShow).sorted, "latestUsers disagrees with the model")
    }
    // every sequence opens with a vector delete followed by compactUsers:
    // the compaction must see and apply the vector
    val opening = Seq[(UOp, Option[UOp])](
      (InsertUsers(names.take(4).map(n => ("u1", n, s"$n@x.io", "pw")), 0L), None),
      (InsertUsers(names.take(2).map(n => ("u2", n, s"$n.2@x.io", "pw2")), 2L), None),
      (DeleteUsers(Seq(names(3))), None),
      (CompactUsers, None))
    try {
      val drawn = draw[UOp](21L, 20, opening.head._1, i => uOpGen(i + 4),
        i => uRacerGen(i + 4), 30, _.isInstanceOf[InsertUsers]).drop(1)
      runMachine(Machine[URow, UOp](dir, uEff, run, read, uShow, extra),
        opening ++ drawn,
        // each seam call is one attempt of the step (see the class doc)
        () => TokenRangeOps.setVectorCompaction(dir, 0))
    } finally store.dropKeyspace()
  }
}
