package perfbench

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.schema.Schemas

/** Seeded raw-issue corpus in the `Schemas.rawIssue` shape. Every issue is
  * a pure function of (seed, issue index, snapshot), so the same seed
  * gives the same corpus however Spark splits the work. Why each property
  * is there:
  *
  *  - Changelog lengths are heavy-tailed: most issues have 2–25 events,
  *    1 % have 200–600. The long histories skew the partitions of
  *    the posexplode and of the per-issue aggregates, as real trackers do.
  *  - About 10 % of issues also carry an older snapshot (same key, one to
  *    three events fewer, an earlier `updatedAt`), so the cold backfill
  *    reads several versions of one issue and dedup has rows to drop; the
  *    checks confirm that the newest one survives.
  *  - Changelog values cover every `stringifyVariant` arm: plain, long
  *    (> 100 chars) and datetime strings, integral and fractional numbers,
  *    references by key, e-mail, name and id, lists, JSON, and all-null
  *    values (dropped by the changelog filter).
  *  - Wire datetimes use five UTC offsets, so text order and time order
  *    differ and the watermark must compare parsed instants.
  *  - Several queues, types, priorities and workflow statuses (with
  *    re-opening loops), comments, sub-tasks, epics and moved issues feed
  *    every branch of the issue projection.
  *  - Incremental deltas: tick k re-updates about 1 % of the issues and
  *    adds a few new ones, all with `updatedAt` inside day k after
  *    [[DeltaEpoch]], later than everything before, so each tick's scan
  *    window is exactly its delta.
  */
object Gen {

  val Base: Instant = Instant.parse("2024-01-08T00:00:00Z")
  /** Every base-corpus time is earlier; delta k lives in day k after it. */
  val DeltaEpoch: Instant = Instant.parse("2026-01-05T00:00:00Z")

  val queues = Vector("CORE", "INFRA", "DATA", "MOBILE", "WEB", "OPS")
  val types = Vector("Bug", "Task", "Story", "Epic", "SubTask")
  val priorities = Vector("Critical", "Normal", "Minor", "Blocker", "Trivial")
  val offsets = Vector("+0000", "+0300", "-0500", "+0530", "-0800").map(ZoneOffset.of)
  val people = Vector("Ann.Lee", "bob.k", "CAROL", "dmitry.p", "eve", "Fedor.S", "gina", "Hugo.M")
  private val wireFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")

  /** Workflow graph: status -> next statuses. "Need Info" and "Reopened"
    * loop back, so one issue can leave the same status several times.
    */
  private val next: Map[String, Vector[String]] = Map(
    "Open" -> Vector("InProgress", "Need Info", "Closed"),
    "InProgress" -> Vector("InReview", "Need Info", "Testing"),
    "Need Info" -> Vector("InProgress", "Open"),
    "InReview" -> Vector("Testing", "InProgress"),
    "Testing" -> Vector("Resolved", "Reopened"),
    "Reopened" -> Vector("InProgress"),
    "Resolved" -> Vector("Closed", "Reopened"),
    "Closed" -> Vector("Reopened"))

  /** Corpus size and the share of issues with a second snapshot. */
  final case class Spec(seed: Long, issues: Int, dupShare: Double = 0.10, slices: Int = 8) {
    def newPerTick: Int = math.max(1, issues / 1000)
    def updatedPerTick: Int = math.max(1, issues / 100)
  }

  /** What the generator knows about a batch of snapshots: the rows the
    * scan window holds, the distinct keys, the newest `updatedAt` of the
    * batch and that of each key (the snapshot dedup must keep).
    */
  final case class Truth(rows: Long, keys: Long, maxUpdated: Instant, newest: Map[String, Instant])

  def wire(t: Instant, off: ZoneOffset): String = OffsetDateTime.ofInstant(t, off).format(wireFmt)

  private def day(t: Instant): String = t.atOffset(ZoneOffset.UTC).toLocalDate.toString

  private def rng(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL)

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  // variant struct: s, n, ref(key, email, name, id), list, json
  private def vs(s: String) = Row(s, null, null, null, null)
  private def vn(n: Double) = Row(null, n, null, null, null)
  private def vref(key: String = null, email: String = null, name: String = null, id: String = null) =
    Row(null, null, Row(key, email, name, id), null, null)
  private def vlist(xs: String*) = Row(null, null, null, xs, null)
  private def vjson(j: String) = Row(null, null, null, null, j)
  private val vnull = Row(null, null, null, null, null)
  private def change(id: String, name: String, from: Row, to: Row) = Row(Row(id, name), from, to)

  /** One changelog event: its time, its row and, for workflow events, the
    * status it moved to.
    */
  private final case class Ev(at: Instant, row: Row, toStatus: Option[String])

  private def email(r: SplittableRandom): String = pick(r, people) + "@Example.com"

  private def longText(r: SplittableRandom): String =
    Iterator.fill(12 + r.nextInt(8))(pick(r, Vector("alpha", "beta", "gamma", "delta", "omega"))).mkString(" ")

  /** An `IssueUpdated` field change drawn over every variant arm. */
  private def fieldChange(r: SplittableRandom, at: Instant): Row = r.nextInt(12) match {
    case 0 => change("summary", "Summary", vs("old title"), vs("new title " + r.nextInt(100)))
    case 1 => change("description", "Description", vnull, vs(longText(r)))
    case 2 => change("deadline", "Deadline", vnull,
      vs(wire(at.plusSeconds(86400L * (1 + r.nextInt(30))), pick(r, offsets))))
    case 3 => change("storyPoints", "Story Points", vn(r.nextInt(8).toDouble), vn(1 + r.nextInt(13)))
    case 4 => change("spent", "Time Spent", vn(0.5), vn(r.nextInt(40) / 4.0 + 0.25))
    case 5 => change("parent", "Parent", vnull, vref(key = s"${pick(r, queues)}-${r.nextInt(1000)}"))
    case 6 => change("assignee", "Assignee", vref(email = email(r)), vref(email = email(r)))
    case 7 => change("sprint", "Sprint", vref(name = s"Sprint ${r.nextInt(40)}"), vref(name = s"Sprint ${r.nextInt(40)}"))
    case 8 => change("fixVersions", "Fix Versions", vnull, vref(id = s"${1000 + r.nextInt(50)}"))
    case 9 => change("tags", "Tags", vlist("backend"), vlist("backend", pick(r, Vector("urgent", "ux", "infra"))))
    case 10 => change("customFields", "Custom", vnull, vjson(s"""{"score":${r.nextInt(100)}}"""))
    case _ => change("watchers", "Watchers", vnull, vnull) // both sides empty: filtered out
  }

  private def actor(r: SplittableRandom): Row =
    if (r.nextInt(20) == 0) Row(null, "robot") else Row(email(r), pick(r, people))

  /** Appends `n` events after `from` at a mean gap of `gapSec`, walking the
    * workflow from `status` (entered at `since`).
    */
  private def events(r: SplittableRandom, n: Int, from: Instant, gapSec: Double,
                     status0: String, since0: Option[Instant]): Vector[Ev] = {
    var t = from
    var status = status0
    var since = since0
    Vector.fill(n) {
      t = t.plusMillis((1000 + -math.log(1 - r.nextDouble()) * gapSec * 1000).toLong)
      val off = pick(r, offsets)
      val roll = r.nextInt(20)
      if (roll < 8) {
        val to = pick(r, next(status))
        val fields = Seq(
          change("status", "Status", vref(key = status.toLowerCase, name = status), vref(key = to.toLowerCase, name = to)),
          change("statusStartTime", "Status Start", since.map(s => vs(wire(s, pick(r, offsets)))).getOrElse(vnull),
            vs(wire(t, off)))) ++
          (if (to == "Resolved") Seq(change("resolution", "Resolution", vnull, vref(key = "fixed", name = "Fixed")))
          else Nil)
        val ev = Ev(t, Row(wire(t, off), "IssueWorkflow", pick(r, Vector("api", "front")), actor(r), fields), Some(to))
        status = to
        since = Some(t)
        ev
      } else if (roll == 8) {
        Ev(t, Row(wire(t, off), "IssueMoved", "front", actor(r), Seq(
          change("queue", "Queue", vref(key = pick(r, queues)), vref(key = pick(r, queues))),
          change("key", "Key", vs(s"OLD-${r.nextInt(1000)}"), vs(s"NEW-${r.nextInt(1000)}")))), None)
      } else if (roll == 9) {
        // a field whose id and name are both missing: dropped by the filter
        Ev(t, Row(wire(t, off), "IssueUpdated", "api", actor(r), Seq(Row(null, vs("a"), vs("b")))), None)
      } else {
        Ev(t, Row(wire(t, off), pick(r, Vector("IssueUpdated", "IssueUpdated", "IssueCommentAdded")),
          pick(r, Vector("api", "front", "email")), actor(r),
          Seq.fill(1 + r.nextInt(3))(fieldChange(r, t))), None)
      }
    }
  }

  /** Issue `i`'s base history: creation time and events. Exactly one
    * issue in each run of 100 consecutive indices has a long history (its
    * position is seeded), so the share of long histories, which sets most
    * of a tick's work, does not vary from seed to seed.
    */
  private def history(seed: Long, i: Long, createdAt: Instant): (SplittableRandom, Vector[Ev]) = {
    val r = rng(seed, i, 0)
    val long = Math.floorMod(i + rng(seed, i / 100, 5).nextInt(100), 100L) == 0
    val n = if (long) 200 + r.nextInt(400) else 2 + r.nextInt(24)
    // a history spans about 30 days however many events it has
    (r, events(r, n, createdAt, 30.0 * 86400 / n, "Open", None))
  }

  private def baseCreated(seed: Long, i: Long): Instant =
    Base.plusMillis((rng(seed, i, 1).nextDouble() * 300 * 86400 * 1000).toLong)

  /** The raw-issue row of one snapshot holding `evs`, last updated at
    * `updated`.
    */
  private def issueRow(seed: Long, i: Long, created: Instant, evs: Vector[Ev], updated: Instant): Row = {
    val r = rng(seed, i, 2)
    val queue = queues(r.nextInt(queues.size))
    val status = evs.flatMap(_.toStatus).lastOption.getOrElse("Open")
    val resolved = status == "Resolved" || status == "Closed"
    val resolvedAt = evs.filter(_.toStatus.contains("Resolved")).lastOption.map(_.at)
    val sub = r.nextInt(5) == 0
    val off = pick(r, offsets)
    val comments = Seq.tabulate(r.nextInt(4)) { c =>
      val at = created.plusSeconds(3600L * (c + 1))
      Row(s"$i-$c", s"comment $c on $i", Row(email(r), pick(r, people)), wire(at, off), wire(at.plusSeconds(60), off))
    }
    Row(
      s"$queue-${i + 1}",
      if (r.nextInt(10) == 0) s"Crash on start 🚀 #$i" else s"Issue $i: ${pick(r, Vector("fix", "add", "drop"))} thing",
      Row(queue),
      Row(pick(r, types)),
      Row(pick(r, priorities)),
      Row(status),
      if (resolved && r.nextInt(4) != 0) Row(pick(r, Vector("Fixed", "WontFix", "Duplicate"))) else null,
      if (r.nextInt(6) == 0) null else Row(email(r)),
      Row(email(r)),
      if (r.nextInt(3) == 0) Row(email(r)) else null,
      if (sub) Row(s"$queue-${1 + r.nextInt(math.max(1, i.toInt + 1))}") else null,
      if (r.nextInt(3) == 0) Row(s"$queue-EPIC-${r.nextInt(20)}") else null,
      if (r.nextInt(4) == 0) null else Row(s"Project ${pick(r, Vector("Apollo", "Zeus", "Hera"))}"),
      Seq.fill(r.nextInt(3))(Row(s"Sprint ${r.nextInt(40)}")),
      if (r.nextInt(5) == 0) null else Seq.fill(r.nextInt(3))(Row(pick(r, Vector("api", "ui", "db", "infra")))),
      Seq.fill(r.nextInt(4))(pick(r, Vector("backend", "frontend", "urgent", "tech-debt"))),
      if (r.nextInt(10) == 0) Seq(s"ALIAS-$i") else Seq.empty[String],
      if (r.nextInt(3) == 0) null else java.lang.Float.valueOf(r.nextInt(27) / 2.0f),
      wire(created, off),
      wire(updated, pick(r, offsets)),
      resolvedAt.filter(_ => resolved).map(wire(_, off)).orNull,
      if (r.nextInt(2) == 0) day(created) else null,
      if (r.nextInt(3) == 0) day(created.plusSeconds(86400L * 14)) else null,
      if (r.nextInt(3) == 0) day(created.plusSeconds(86400L * 30)) else null,
      evs.map(_.row),
      comments)
  }

  private def updatedAfter(seed: Long, i: Long, salt: Long, last: Instant): Instant =
    last.plusMillis(1 + rng(seed, i, salt).nextInt(60000))

  /** Base snapshots of issue `i`: one, or two for about `dupShare` of the
    * issues (the older one cut a few events short).
    */
  private def baseSnapshots(spec: Spec, i: Long): Seq[(Row, Instant)] = {
    val created = baseCreated(spec.seed, i)
    val (r, evs) = history(spec.seed, i, created)
    val last = evs.last.at
    val full = updatedAfter(spec.seed, i, 3, last)
    val latest = (issueRow(spec.seed, i, created, evs, full), full)
    if (r.nextDouble() < spec.dupShare) {
      val cut = evs.take(math.max(1, evs.size - 1 - r.nextInt(3)))
      // taken between the cut's last event and the next one (events are at
      // least a second apart), so strictly older than the full snapshot
      val gapMs = evs(cut.size).at.toEpochMilli - cut.last.at.toEpochMilli
      val early = cut.last.at.plusMillis(1 + rng(spec.seed, i, 4).nextLong(gapMs - 1))
      Seq((issueRow(spec.seed, i, created, cut, early), early), latest)
    } else Seq(latest)
  }

  /** Snapshots of delta tick `k` (1-based): re-updated issues get a base
    * history plus 1–3 events inside day k; new issues are created there.
    */
  private def deltaSnapshots(spec: Spec, k: Int, i: Long): (Row, Instant) = {
    val dayStart = DeltaEpoch.plusSeconds(86400L * k)
    val r = rng(spec.seed, i, 1000L + k)
    if (i < spec.issues) {
      val created = baseCreated(spec.seed, i)
      val (_, evs) = history(spec.seed, i, created)
      val status = evs.flatMap(_.toStatus).lastOption.getOrElse("Open")
      val more = events(r, 1 + r.nextInt(3), dayStart, 600, status, Some(evs.last.at))
      val all = evs ++ more
      val up = updatedAfter(spec.seed, i, 1000L + k, all.last.at)
      (issueRow(spec.seed, i, created, all, up), up)
    } else {
      val evs0 = events(r, 2 + r.nextInt(6), dayStart, 300, "Open", None)
      val up = updatedAfter(spec.seed, i, 1000L + k, evs0.last.at)
      (issueRow(spec.seed, i, dayStart, evs0, up), up)
    }
  }

  /** Issue indices of tick `k`: distinct re-updated base issues, then new
    * issues numbered after the base corpus and earlier ticks.
    */
  def deltaIssues(spec: Spec, k: Int): Seq[Long] = {
    val r = rng(spec.seed, -1, k)
    val updated = Iterator.continually(r.nextInt(spec.issues).toLong).distinct.take(spec.updatedPerTick).toSeq
    val fresh = (0 until spec.newPerTick).map(j => spec.issues.toLong + (k - 1).toLong * spec.newPerTick + j)
    updated ++ fresh
  }

  /** Writes the snapshots of `issues` (made by `snap`) with Spark, and
    * returns their truth, worked out again on the driver.
    */
  private def write(spark: SparkSession, issues: Seq[Long], slices: Int, mode: String, dir: String)
                   (snap: Long => Seq[(Row, Instant)]): Truth = {
    val rows = spark.sparkContext.parallelize(issues, slices).flatMap(i => snap(i).map(_._1))
    spark.createDataFrame(rows, Schemas.rawIssue).write.mode(mode).parquet(dir)
    val all = issues.flatMap(snap)
    val newest = all.groupMapReduce(_._1.getString(0))(_._2)((a, b) => if (a.isAfter(b)) a else b)
    Truth(all.size, newest.size, all.map(_._2).max, newest)
  }

  /** Writes the base corpus to `dir`; returns the truth of a full scan. */
  def writeBase(spark: SparkSession, spec: Spec, dir: String): Truth =
    write(spark, 0L until spec.issues, spec.slices, "overwrite", dir)(baseSnapshots(spec, _))

  /** Appends delta tick `k` to the corpus at `dir`; returns its truth. */
  def appendDelta(spark: SparkSession, spec: Spec, k: Int, dir: String): Truth =
    write(spark, deltaIssues(spec, k), 2, "append", dir)(i => Seq(deltaSnapshots(spec, k, i)))
}
