package perfbench

/** Plain-Scala reference for `UnitDb.get`, written from the reference
  * semantics (SURVEY §2.3) and independent of the program's own matcher:
  * contract scope, bidirectional wildcard match, `?last=<duration>` cutoff,
  * `?last=<count>` limit, newest first (ts, then put order), limit. */
object Model {
  final case class Parsed(parts: Array[String], multi: Boolean)

  def parse(topic: String): Parsed = {
    val q = topic.indexOf('?')
    val key = if (q >= 0) topic.substring(0, q) else topic
    if (key == "...") Parsed(Array.empty, multi = true)
    else if (key.endsWith("...")) Parsed(key.dropRight(3).stripSuffix(".").split('.'), multi = true)
    else Parsed(key.split('.'), multi = false)
  }

  def matches(a: Parsed, b: Parsed): Boolean = {
    val n = math.min(a.parts.length, b.parts.length)
    var i = 0
    while (i < n) {
      val x = a.parts(i); val y = b.parts(i)
      if (x != y && x != "*" && y != "*") return false
      i += 1
    }
    if (a.parts.length == b.parts.length) true
    else if (a.parts.length < b.parts.length) a.multi
    else b.multi
  }

  /** Option value of `?last=`: Left(count) or Right(duration ms). */
  def last(topic: String): Option[Either[Int, Long]] = {
    val q = topic.indexOf('?')
    if (q < 0) None
    else topic.substring(q + 1).split('&').collectFirst {
      case kv if kv.startsWith("last=") => kv.substring(5)
    }.map { v =>
      if (v.endsWith("h")) Right(v.dropRight(1).toLong * 3600000L)
      else if (v.endsWith("m")) Right(v.dropRight(1).toLong * 60000L)
      else Left(v.toInt)
    }
  }

  final case class Row(idx: Long, contract: Long, tsMs: Long, parsed: Parsed,
      userBytes: Long)
  def row(m: Msg): Row = Row(m.idx, m.contract, m.tsMs, parse(m.topic),
    m.topic.getBytes("UTF-8").length.toLong + m.payload.length)

  /** Newest-first order: ts, then put order (idx follows put order in every
    * workload). */
  val newestFirst: Ordering[Row] =
    Ordering.by[Row, (Long, Long)](r => (r.tsMs, r.idx)).reverse

  /** Expected payload idxs for `g` over `rows` (already newest-first),
    * keeping rows for which `live` holds. */
  def get(g: Get, rows: Iterator[Row], live: Long => Boolean): Vector[Long] = {
    val p = parse(g.topic)
    val (cutoff, limit) = last(g.topic) match {
      case Some(Right(ms)) => (Gen.T0 - ms, Gen.Limit)
      case Some(Left(n))   => (Long.MinValue, n)
      case None            => (Long.MinValue, Gen.Limit)
    }
    rows.filter(r => r.contract == g.contract && r.tsMs >= cutoff &&
        matches(r.parsed, p) && live(r.idx))
      .take(limit).map(_.idx).toVector
  }

  /** Merge two newest-first row sequences. */
  def merge(a: IndexedSeq[Row], b: IndexedSeq[Row]): Iterator[Row] = new Iterator[Row] {
    private var i = 0; private var j = 0
    def hasNext: Boolean = i < a.length || j < b.length
    def next(): Row =
      if (j >= b.length || (i < a.length && newestFirst.lteq(a(i), b(j)))) { i += 1; a(i - 1) }
      else { j += 1; b(j - 1) }
  }
}
