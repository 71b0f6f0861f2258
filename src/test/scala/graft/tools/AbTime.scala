package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only interleaved A/B query timer for the optimization rounds.
  * The sandbox host's load swings 2-3× between runs (r15-r16 bench
  * history), so sequential before/after timings lie; this main
  * alternates SESSION A (baseline config) and SESSION B (candidate
  * config from AB_CONF="k=v;k=v") pass by pass in one JVM and prints
  * per-query medians for both, so both configs see the same load.
  *
  * Env: AB_QUERIES=a,b,c  AB_PASSES=3  AB_CONF="k=v;..."  AB_DIR
  *      AB_CPUS  AB_CONF_A (optional baseline overrides)
  */
object AbTime {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("AB_CPUS", "32")
    val dir = sys.env.getOrElse("AB_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("AB_PASSES", "3").toInt
    val names = sys.env.getOrElse("AB_QUERIES", "e147_nn_descent")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def parse(e: String): Seq[(String, String)] =
      sys.env.getOrElse(e, "").split(";").map(_.trim)
        .filter(_.contains("=")).toSeq
        .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val confA = parse("AB_CONF_A")
    val confB = parse("AB_CONF")
    def session(conf: Seq[(String, String)]): SparkSession = {
      val b = graft.Graft.builder(Some(cpus.toInt)).master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
      conf.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def run(s: SparkSession, n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(s, dir)
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    // one fresh session per (config, pass): matches Bench's isolated
    // mode; interleaved A,B,A,B so load drift hits both equally.
    val res = scala.collection.mutable.Map
      .empty[(String, String), Vector[Double]].withDefaultValue(Vector())
    // order ALTERNATES per pass (A,B then B,A): the host's load ramps on
    // minute scales, so a fixed order systematically taxes whichever
    // config runs second.
    for (p <- 0 to passes;
         (tag, conf) <- (if (p % 2 == 0) Seq("A" -> confA, "B" -> confB)
                         else Seq("B" -> confB, "A" -> confA))) {
      val s = session(conf)
      try names.foreach { n =>
        val t = run(s, n)
        if (p > 0) res((tag, n)) :+= t // pass 0 = JIT warmup, dropped
      } finally s.stop()
    }
    def medOf(v: Vector[Double]) = v.sorted.apply((v.size - 1) / 2)
    println("\n== AB result (median of " + passes + ", per fresh session) ==")
    names.foreach { n =>
      val a = res(("A", n)); val bb = res(("B", n))
      println(f"$n%-28s A=${medOf(a)}%6.2f  B=${medOf(bb)}%6.2f  " +
        f"(B/A=${medOf(bb) / medOf(a)}%.2f)  rawA=[${a.map(x => f"$x%.2f").mkString(" ")}] " +
        f"rawB=[${bb.map(x => f"$x%.2f").mkString(" ")}]")
    }
  }
}
