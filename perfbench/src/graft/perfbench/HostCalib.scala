package graft.perfbench

/** Host-speed context for a steadiness record: the same integer spin as
  * `graft.Bench`'s calibration (400M iterations of a loop-carried
  * multiply-xorshift chain), serial and split over all cores, median of
  * three. Prints one JSON object; it is context, not a metric. */
object HostCalib {
  private def spin(iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    x
  }

  def main(args: Array[String]): Unit = {
    spin(20000000L)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    def med3(f: () => Double): Double = Seq.fill(3)(f()).sorted.apply(1)
    val serial = med3 { () =>
      val t0 = System.nanoTime()
      sink.addAndGet(spin(400000000L))
      (System.nanoTime() - t0) / 1e6
    }
    val n = Runtime.getRuntime.availableProcessors()
    val par = med3 { () =>
      val t0 = System.nanoTime()
      val ts = (1 to n).map(_ => new Thread(() => { sink.addAndGet(spin(400000000L / n)); () }))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    println(Json.obj(Seq("spin_serial_ms" -> serial, "spin_parallel_ms" -> par, "cores" -> n,
      "checksum" -> (sink.get & 0xff))))
  }
}
