package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.Sessions

class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // user 1: a 1.5 h gap (00:30 -> 02:00) splits; the exact-gap pair
  // (02:00 -> 03:00 at gap=1h) MERGES (session_window only splits on a
  // strictly greater gap); user 2: single event
  private lazy val ev = Seq(
    (1L, 10L, ts("2024-01-01 00:00:00"), 1.0),
    (1L, 11L, ts("2024-01-01 00:30:00"), 2.0),
    (1L, 12L, ts("2024-01-01 02:00:00"), 4.0),
    (1L, 13L, ts("2024-01-01 03:00:00"), 8.0),
    (2L, 20L, ts("2024-01-01 05:00:00"), 16.0))
    .toDF("user_id", "event_id", "ts", "value")

  private val HourMicros = 3600000000L

  test("sessionize: only a gap > duration starts a new session; ties broken by id") {
    val got = Sessions.sessionize(ev, "user_id", "ts", HourMicros,
        tieBreak = Seq("event_id"))
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 13L -> 2L, 20L -> 1L))
  }

  test("sessionStats matches the built-in session_window boundary rule") {
    val got = Sessions.sessionStats(ev, "user_id", "ts", "1 hour", "value")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:30:00"), 2L, 3.0),
      (1L, ts("2024-01-01 02:00:00"), ts("2024-01-01 04:00:00"), 2L, 12.0),
      (2L, ts("2024-01-01 05:00:00"), ts("2024-01-01 06:00:00"), 1L, 16.0)))
  }

  test("funnel: strict ordering, partial completion, one-exchange plan") {
    val fe = Seq(
      // full conversion: view -> click -> purchase
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 00:01:00")),
      (1L, "purchase", ts("2024-01-01 00:02:00")),
      // out-of-order purchase: click confirms only AFTER the view, and
      // the purchase predates that click -> stops at stage 2
      (2L, "click", ts("2024-01-01 00:00:00")),
      (2L, "view", ts("2024-01-01 00:01:00")),
      (2L, "purchase", ts("2024-01-01 00:02:00")),
      (2L, "click", ts("2024-01-01 00:03:00")),
      // view only
      (3L, "view", ts("2024-01-01 00:00:00")),
      // never viewed: clicks/purchases can't start the funnel
      (4L, "purchase", ts("2024-01-01 00:00:00")),
      (4L, "click", ts("2024-01-01 00:01:00")),
      // simultaneous click does NOT confirm the view (strictly after)
      (5L, "view", ts("2024-01-01 00:00:00")),
      (5L, "click", ts("2024-01-01 00:00:00")),
      (5L, "purchase", ts("2024-01-01 00:01:00")))
      .toDF("user_id", "event_type", "ts")
    val got = Sessions.funnel(fe, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select("user_id", "t_view", "t_click", "t_purchase",
        "stages_completed")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp], Long)]
      .collect().toSet
    assert(got === Set(
      (1L, Some(ts("2024-01-01 00:00:00")), Some(ts("2024-01-01 00:01:00")),
        Some(ts("2024-01-01 00:02:00")), 3L),
      (2L, Some(ts("2024-01-01 00:01:00")), Some(ts("2024-01-01 00:03:00")),
        None, 2L),
      (3L, Some(ts("2024-01-01 00:00:00")), None, None, 1L),
      (4L, None, None, None, 0L),
      (5L, Some(ts("2024-01-01 00:00:00")), None, None, 1L)))
    // one exchange: the chained stage windows and the final rollup all
    // reuse the user-key partitioning
    val plan = Sessions.funnel(fe, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length === 1, plan.take(3000))
  }

  test("packing: shard offsets are gapless from 0; sequence spans are exact") {
    import graft.functions.Packing
    val docs = Seq((0L, 5L), (2L, 10L), (4L, 3L), (1L, 7L), (3L, 2L))
      .toDF("doc_id", "n")
    val got = Packing.concatOffsets(docs, "doc_id", col("n"),
        shards = 2, seqLen = 8)
      .select("doc_id", "shard", "start_offset", "end_offset", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // shard 0: docs 0(5),2(10),4(3) -> [0,5),[5,15),[15,18)
    // shard 1: docs 1(7),3(2)       -> [0,7),[7,9)
    assert(got === Set(
      (0L, 0L, 0L, 5L, 0L, 0L),
      (2L, 0L, 5L, 15L, 0L, 1L),   // straddles the seq 0/1 boundary at 8
      (4L, 0L, 15L, 18L, 1L, 2L),
      (1L, 1L, 0L, 7L, 0L, 0L),
      (3L, 1L, 7L, 9L, 0L, 1L)))
    val plan = Packing.concatOffsets(docs, "doc_id", col("n"), 2, 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).length === 1,
      s"one shard shuffle expected in:\n$plan")
  }

  test("global packing: two-phase chunked cumsum equals the naive global sum") {
    import graft.functions.Packing
    val rnd = new scala.util.Random(20260813)
    // sparse, shuffled ids so chunks are uneven (some empty)
    val docs = rnd.shuffle((0L until 400L).filter(_ % 7 != 0).toVector)
      .map(id => (id, 1L + rnd.nextInt(30).toLong)).toDF("doc_id", "n")
    for (chunkSize <- Seq(1L, 13L, 64L, 1000L)) {
      val got = Packing.concatOffsetsGlobal(docs, "doc_id", col("n"),
          chunkSize, seqLen = 16)
        .select("doc_id", "start_offset", "end_offset")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // naive single global running sum
      val naive = docs.select("doc_id", "n").as[(Long, Long)].collect()
        .sortBy(_._1).foldLeft((0L, Vector.empty[(Long, Long, Long)])) {
          case ((acc, out), (id, n)) => (acc + n, out :+ ((id, acc, acc + n)))
        }._2
      assert(got.toSeq === naive, s"chunkSize=$chunkSize")
    }
  }

  test("sessionize property: equals the naive per-user fold on random data") {
    val rnd = new scala.util.Random(20260813)
    val rows = for {
      u <- 1L to 20L
      i <- 0 until (1 + rnd.nextInt(40))
    } yield (u, i.toLong, rnd.nextInt(100000).toLong) // ts in ms
    // unique (user, ts) so ordering by ts alone is total
    val data = rows.groupBy(r => (r._1, r._3)).map(_._2.head).toSeq
    val gapMs = 5000L
    val df = data.map { case (u, i, tsMs) =>
      (u, u * 1000 + i, new Timestamp(tsMs))
    }.toDF("user_id", "event_id", "ts")
    val got = Sessions.sessionize(df, "user_id", "ts", gapMs * 1000)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    // naive reference: sort each user's events, walk, bump on gap > g
    val want = data.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(_._3)
      var seq = 0L
      var prev = Long.MinValue
      sorted.map { case (_, i, tsMs) =>
        if (prev == Long.MinValue || tsMs - prev > gapMs) seq += 1
        prev = tsMs
        (u * 1000 + i) -> seq
      }
    }
    assert(got.size === want.size)
    val bad = want.collect { case (id, s) if got(id) != s => (id, s, got(id)) }
    assert(bad.isEmpty, s"first disagreements: ${bad.take(5)}")
  }

  test("sessionizeSalted property: bit-identical to sessionize across chunk boundaries") {
    // random events with a split far smaller than the data span, so many
    // sessions straddle chunk edges; gap 5 s, chunks 10 s
    val rnd = new scala.util.Random(20260814)
    val rows = (for {
      u <- 1L to 15L
      i <- 0 until (1 + rnd.nextInt(50))
    } yield (u, i.toLong, rnd.nextInt(100000).toLong))
      .groupBy(r => (r._1, r._3)).map(_._2.head).toSeq
    // plus an adversarial grid user: ts at multiples of 2.5 s — exact-gap
    // pairs (5 s apart MERGES) and events landing exactly on chunk edges
    val grid = (0 until 40).map(i => (99L, i.toLong, i * 2500L))
    val all = rows ++ grid
    val df = all.map { case (u, i, tsMs) =>
      (u, u * 1000 + i, new Timestamp(tsMs))
    }.toDF("user_id", "event_id", "ts")
    val gapMicros = 5000L * 1000
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    val plain = collect(
      Sessions.sessionize(df, "user_id", "ts", gapMicros))
    val salted = collect(Sessions.sessionizeSalted(df, "user_id", "ts",
      gapMicros, splitMicros = 10000L * 1000))
    assert(salted.size === plain.size)
    val bad = plain.collect {
      case (id, s) if salted(id) != s => (id, s, salted(id)) }
    assert(bad.isEmpty, s"first disagreements: ${bad.take(5)}")
    // schema parity: same columns as sessionize's output
    assert(Sessions.sessionizeSalted(df, "user_id", "ts", gapMicros).columns
      === Sessions.sessionize(df, "user_id", "ts", gapMicros).columns)
    // the event-scale window must partition on (user, chunk) — that IS
    // the hot-key split; only summary-scale frames repartition on user
    val plan = Sessions.sessionizeSalted(df, "user_id", "ts", gapMicros)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__chunk"), plan.take(2000))
  }

  test("sliding windows: every event lands in exactly width/slide windows") {
    // 30 min / 10 min slide over crafted instants, including exact
    // bucket boundaries (00:10:00) and a microsecond straddler
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (2L, ts("2024-01-01 00:10:00")),
      (3L, Timestamp.valueOf("2024-01-01 00:19:59.999999")))
      .toDF("event_id", "ts")
    val got = df
      .select(col("event_id"),
        window(col("ts"), "30 minutes", "10 minutes").as("w"))
      .select(col("event_id"), col("w.start").cast("string").as("s"))
      .as[(Long, String)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got(1L) === Seq("2023-12-31 23:40:00", "2023-12-31 23:50:00",
      "2024-01-01 00:00:00"))
    assert(got(2L) === Seq("2023-12-31 23:50:00", "2024-01-01 00:00:00",
      "2024-01-01 00:10:00"))
    // the .999999 straddler still belongs to the 00:10 bucket's windows
    assert(got(3L) === Seq("2023-12-31 23:50:00", "2024-01-01 00:00:00",
      "2024-01-01 00:10:00"))
  }

  test("session plans shuffle once on the user key") {
    for ((name, df) <- Seq(
        "sessionize" -> Sessions.sessionize(ev, "user_id", "ts", HourMicros,
          tieBreak = Seq("event_id")),
        "sessionStats" -> Sessions.sessionStats(ev, "user_id", "ts",
          "1 hour", "value"))) {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
      // ONE user-key exchange: the running sum rides the sessionize
      // window, and the rollup's hash agg on (user, window) is satisfied
      // by HashPartitioning(user) — a 2nd exchange means that reuse broke
      assert(shuffles === 1, s"$name expected 1 shuffle in:\n$plan")
    }
  }
}
