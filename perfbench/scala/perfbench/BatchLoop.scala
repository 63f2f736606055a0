package perfbench

import java.io.File

/** One pipeline of the closed-loop batch workload: stages its seeded
  * inputs, runs one job over them, and checks the last job's outputs
  * against the generator's ground truth. */
trait BatchJob {
  def stage(b: Bench, dir: String): Unit
  def use(dir: String): Unit
  /** Input records one job processes. */
  def rows(b: Bench): Long
  /** One full job; its outputs overwrite the previous job's. */
  def job(b: Bench): Unit
  def checks(b: Bench): Seq[Check]
  def layerMetrics(b: Bench): Map[String, Double]
}

/** batch_pipelines: a closed loop, one client, one job at a time. Each job
  * runs every pipeline in turn, each over its own staged inputs, and a
  * record's result is complete when its job ends. */
final class BatchLoop(pipelines: BatchJob*) extends Workload {
  import BatchLoop._

  private def each(dir: String)(f: (BatchJob, String) => Unit): Unit =
    pipelines.zipWithIndex.foreach { case (p, i) => f(p, s"$dir/$i") }

  def stage(b: Bench, dir: String): Unit = each(dir) { (p, d) => new File(d).mkdirs(); p.stage(b, d) }

  def use(dir: String): Unit = each(dir)(_.use(_))

  private def job(b: Bench): Unit = pipelines.foreach(_.job(b))

  def warmup(b: Bench): Unit = job(b)

  /** Run the job back to back until `seconds` have passed and [[MinJobs]]
    * have run (once when not `full`). */
  def pass(b: Bench, seconds: Int, full: Boolean): Pass = {
    val rows = pipelines.map(_.rows(b)).sum
    val start = System.nanoTime()
    val jobs = Seq.newBuilder[(Double, Boolean)]
    var n = 0
    while (n == 0 || (full && (n < MinJobs || (System.nanoTime() - start) / 1e9 < seconds))) {
      val t0 = System.nanoTime()
      val ok = try { job(b); true } catch {
        case e: Exception => System.err.println(s"perfbench: job failed: $e"); false
      }
      jobs += (((System.nanoTime() - t0) / 1e9, ok))
      n += 1
    }
    val js = jobs.result()
    Pass(js.map(_._1), rows, js.map(j => (j._1 * 1000, 1L)), js.size, js.count(!_._2))
  }

  def checks(b: Bench): Seq[Check] = pipelines.flatMap(_.checks(b))

  /** Each pipeline's layer metrics; the generator counts both report
    * (rows offered, duplicates planted) add up. */
  def layerMetrics(b: Bench): Map[String, Double] =
    pipelines.map(_.layerMetrics(b)).reduce { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
}

object BatchLoop {
  /** The job count a full pass runs at the least. The JVM still speeds up
    * over the first timed jobs, so the median over a count that flips
    * with small speed changes would jump; the run length is chosen so
    * that a pass runs exactly this many jobs, and the median of two is
    * their mean. */
  val MinJobs = 2
}
