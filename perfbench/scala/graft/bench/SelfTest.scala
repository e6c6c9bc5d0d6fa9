package graft.bench

/** Checks that the qc_session output checks reject planted wrong answers
  * (and accept right ones). No Spark needed; exits 1 on any miss.
  * Run by perfbench/tests/test_checks.py. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    import SelModel._
    var misses = List.empty[String]
    def expect(name: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "MISS"} $name")
      if (!cond) misses ::= name
    }

    // 2004-06-01 00:00:30 UTC, corrected by -2 h, keyed to the minute
    val p = Pt("ethane", 1086048030.0, "1001-7", 1.5)
    expect("key is formatISODate of the corrected time plus the salt",
      p.key == "2004-05-31 22:00 1001-7")
    val q = Pt("ethane", 1086048030.0 + 86400, "1002-3", 9.0)
    val r = Rect("ethane", p.cts, p.cts + 3600, 0.0, 5.0)
    expect("rect covers exactly the points inside it", keys(Seq(p, q), r) == Set(p.key))

    expect("count: right answer accepted", checkCount(3L, 3).isEmpty)
    expect("count: planted wrong answer rejected", checkCount(4L, 3).nonEmpty)

    val sel = Set("2004-05-31 22:00 1001-7", "2004-06-01 22:00 1002-3")
    val rows = sel.toSeq.sorted.map(_ -> 1L)
    expect("counts: right answer accepted", checkCounts(rows, sel).isEmpty)
    expect("counts: planted extra key rejected",
      checkCounts(rows :+ ("2004-06-02 22:00 1003-1" -> 1L), sel).nonEmpty)
    expect("counts: planted wrong count rejected",
      checkCounts(rows.map { case (k, _) => k -> 2L }, sel).nonEmpty)

    val want = sel.map(_ -> Set("ethane")).toMap
    val right = "{\n \"2004-05-31 22:00 1001-7\": [\n  \"ethane\"\n ],\n\n" +
      " \"2004-06-01 22:00 1002-3\": [\n  \"ethane\"\n ]\n}"
    expect("export: right answer accepted", checkExport(right, want).isEmpty)
    expect("export: planted missing key rejected",
      checkExport("{\n \"2004-05-31 22:00 1001-7\": [\n  \"ethane\"\n ]\n}", want).nonEmpty)
    expect("export: planted extra compound rejected",
      checkExport(right.replace("\"ethane\"\n ]\n}", "\"ethane\",\n  \"propane\"\n ]\n}"),
        want).nonEmpty)
    expect("export: unsorted compound list rejected",
      checkExport("{\"k\": [\"b\", \"a\"]}", Map("k" -> Set("a", "b"))).nonEmpty)

    // a minute-spaced series with one spike (index 20) and one long gap
    def pt(i: Int, sec: Long, v: Double) = Pt("ethane", 1086048000.0 + sec, s"1-$i", v)
    val series = (0 until 24).map(i => pt(i, i * 60L, 10.0 + (i % 2) * 0.5)).updated(20,
      pt(20, 1200, 100.0)) :+ pt(24, 1000000, 10.0)
    val spike = Seq(series(20).key)
    expect("outliers model flags the spike", outlierKeys(series) == spike)
    expect("rollingZ model flags the spike", rollingZKeys(series) == spike)
    expect("gaps model flags the long gap",
      gapKeys(series) == Seq(series(23).key + ">" + series(24).key))
    expect("auto-QC: right answer accepted", checkKeys(spike, spike).isEmpty)
    expect("auto-QC: planted missing key rejected", checkKeys(Nil, spike).nonEmpty)
    expect("auto-QC: planted extra key rejected",
      checkKeys(spike :+ series(3).key, spike).nonEmpty)

    if (misses.nonEmpty) {
      println(s"${misses.size} check(s) missed")
      sys.exit(1)
    }
  }
}
