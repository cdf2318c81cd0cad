package graft

/** Host-load calm gating, shared by the streaming benches (VERDICT r17
  * Next #2): ScaleBench's `--calm-below` min-of-3 protocol turned d44's
  * three-round wall dispute into a one-line close, while every
  * StreamBench number still needed a paragraph of box-speed attribution
  * — this ports the load gate to the replay harnesses. Every reported
  * reading carries the 1-min load observed when its measured window
  * began plus a `calm` flag, so round-over-round comparisons can cite
  * calm readings only and leave the rest as raw context.
  */
object Calm {

  /** Default calm line, matching ScaleBench's documented sf10 protocol
    * (`load < 8` on the 32-cpu box). Overridable per run via
    * SPARK_GRAFT_CALM_BELOW. */
  def threshold: Double =
    sys.env.get("SPARK_GRAFT_CALM_BELOW").map(_.toDouble).getOrElse(8.0)

  /** 1-min /proc/loadavg field; NaN where unreadable (non-Linux),
    * which disables gating rather than failing the bench. */
  def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.US_ASCII)
      .split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  /** Wait (poll `pollSec`) until the 1-min load drops under
    * `threshold`, bailing out after `maxWaitSec` so a loaded box still
    * produces a (flagged non-calm) reading instead of hanging the run.
    * Returns the last load observed — the value the caller reports.
    */
  def awaitCalm(below: Double = threshold, pollSec: Int = 10,
                maxWaitSec: Int = 240): Double = {
    var load = loadAvg1()
    var waited = 0
    while (!(load < below) && !load.isNaN && waited < maxWaitSec) {
      Thread.sleep(pollSec * 1000L)
      waited += pollSec
      load = loadAvg1()
    }
    load
  }

  /** One load as JSON: two decimals, `null` where unreadable. */
  def loadJson(load: Double): String =
    if (load.isNaN) "null" else "%.2f".formatLocal(java.util.Locale.US, load)

  /** The JSON fields a gated reading appends: each named window's load,
    * then one joint `calm` flag, true when every window started under
    * [[threshold]], then the JVM's available processors (`cpus`): one
    * calm line means a different thing on a 4-core VM than on a 32-core
    * box, so flags compare only between readings of one core count.
    * An UNREADABLE load (non-Linux — gating disabled per
    * [[loadAvg1]]) makes the flag `null` (unknown), never `false`: false
    * means MEASURED-LOUD, and calm-readings-only comparisons must not
    * silently drop every reading from a host that simply cannot report
    * load (ADVICE r18). */
  def jsonFields(windows: (String, Double)*): String = {
    val loads = windows.map(_._2)
    val calm =
      if (loads.exists(_.isNaN)) "null"
      else loads.forall(_ < threshold).toString
    val cpus = Runtime.getRuntime.availableProcessors
    (windows.map { case (name, load) => s""""$name":${loadJson(load)}""" } ++
      Seq(s""""calm":$calm""", s""""cpus":$cpus""")).mkString(",")
  }
}
