package perfbench

/** Host page-supply canary (`BenchCanary.pageTouchGibps`), run in its
  * own small JVM just before and after the system under test so its
  * 1 GiB touch never lands in the measured process. Prints GiB/s. */
object Canary {
  def main(args: Array[String]): Unit =
    println(graft.BenchCanary.pageTouchGibps(1))
}
