package graphbench

/** One benchmark workload. Only [[run]] is timed; everything else is
  * set-up, checking or cleanup. */
trait Workload extends AutoCloseable {
  def name: String

  /** Engine methods the traced run attributes by stack sampling, for
    * calls the engine makes internally. */
  def sampleTargets: Seq[Tracer.SampleTarget] = Nil

  /** Generates the inputs and the reference answers from the seed. */
  def prepare(): Unit

  /** Installs the prepared inputs. */
  def install(): Unit

  /** Untimed preparation for operation `op`. */
  def beforeOp(op: Int): Unit = ()

  /** Runs operation `op`; returns the rows it committed or ingested. */
  def run(op: Int, tr: Tracer): Long

  /** Checks operation `op`'s output; returns the problems found. */
  def check(op: Int): Seq[String]

  /** Untimed cleanup after operation `op` was checked. */
  def afterOp(op: Int): Unit = ()

  /** Whether the check rejects deliberately corrupted copies of the
    * last operation's output. */
  def corruptionDetected(): Boolean
}
