package perfbench

/** The generator's determinism check: the same seed gives byte-identical
  * inputs, a different seed different ones. Exits non-zero on failure.
  * Run with `python3 perfbench/test_gen.py`. */
object GenCheck {
  def digest(seed: Long): String = {
    val g = new Gen(seed)
    val stream = (0L until 2000L).iterator.map(k =>
      g.streamMsg(1, k, 1L << 40, Gen.T0, g.contracts((k % Gen.Tenants).toInt)))
    Gen.digest(g.preload(20000, 5).iterator.flatten ++ stream,
      g.gets(500, g.contracts(0)).iterator)
  }

  def main(args: Array[String]): Unit = {
    val (a, b) = (args(0).toLong, args(1).toLong)
    val (a1, a2, b1) = (digest(a), digest(a), digest(b))
    println(s"seed $a: $a1\nseed $a: $a2\nseed $b: $b1")
    val ok = a1 == a2 && a1 != b1
    println(if (ok) "ok" else "FAILED")
    if (!ok) sys.exit(1)
  }
}
