package perfbench

/** A short run through every workload's set-up and warm-up, used by the build
  * to record the class-data-sharing archive that later runs start from.
  *
  *   perfbench.Train <fixtures> <work dir>
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val Array(fixtures, work) = argv
    val run = new Run(Args("train", 0L, 0.0, trace = false, fixtures, work, s"$work/train.json"))
    run.spark = Main.session(run.args)
    for (wl <- Seq(new BatchWorkload(Seq("q_kll_quantile")), new StreamWorkload)) {
      wl.setup(run)
      wl.warm(run)
      wl.stop(run)
    }
    run.spark.stop()
    sys.exit(0)
  }
}
