package graft

/** Reference-faithful service configuration (SURVEY §2A #9) — the env
  * contract of `cmd/convertor/main.go:20-47` reproduced name for name:
  *
  *   - `Poller` / `Worker`: pipeline parallelism (main.go:22-23), parsed
  *     with `Str_Int` panic-on-malformed semantics (`infra/utils.go:6-12`);
  *   - `AWS_SQS`: the notification queue name (main.go:24) — in this
  *     zero-egress engine a local directory whose files are S3 event
  *     bodies stands in for the queue (TESTDATA contract);
  *   - `AWS_S3`: the object bucket (main.go:25) — a local root directory.
  *     The reference downloads from AND writes back to this one bucket
  *     (output key = input key + ".parquet", convertor.go:171), which is
  *     why [[GraftConfig.s3Bucket]] is both the object root and the sink;
  *   - the three AWS credential variables are CHECKED but never read by
  *     application code (main.go:27-29 — the SDK picks them up
  *     implicitly); `fromEnv` mirrors that: presence enforced, values
  *     discarded.
  *
  * Every lookup goes through [[GraftConfig.checkEnv]], which reproduces
  * `infra.CheckEnv` (`infra/env.go:9-15`): an unset/empty variable is a
  * PANIC with the reference's message, not a default — fail at startup,
  * not mid-stream. Spark-side consumers: `Streaming
  * .notificationDrivenStream` maps `Worker` to each batch's conversion
  * job's concurrent-task cap (≈ the worker goroutines, convertor.go:62-65)
  * and `Poller` to the per-trigger file cap (pollers × the 10-message
  * poll batch, convertor.go:52).
  */
final case class GraftConfig(
    poller: Int,
    worker: Int,
    sqsName: String,
    s3Bucket: String) {
  require(poller > 0, s"Poller must be positive, got $poller")
  require(worker > 0, s"Worker must be positive, got $worker")
  /** The reference polls ≤10 messages per receive (`convertor.go:52`);
    * `poller` pollers give a per-trigger intake of `10·poller` — the
    * streaming file source's maxFilesPerTrigger equivalent. */
  def filesPerTrigger: Int = poller * 10
}

object GraftConfig {

  /** `infra.CheckEnv` (`infra/env.go:9-15`): return the value or panic
    * with the reference's exact message. Empty string counts as unset —
    * Go's `os.Getenv` cannot distinguish them and the reference treats
    * `""` as missing. */
  def checkEnv(key: String, env: Map[String, String] = sys.env): String =
    env.get(key).filter(_.nonEmpty).getOrElse(
      throw new IllegalStateException(
        s"Not able to find $key in environment"))

  /** `infra.Str_Int` (`infra/utils.go:6-12`): Atoi that panics on a
    * malformed value (the reference panics inside the helper despite
    * also returning an error — the error path is dead code). No
    * whitespace trimming: Go's `strconv.Atoi` rejects `" 3 "`, so a
    * padded value must fail here exactly as it does in the reference
    * (Scala's `String.toInt` is equally strict). */
  def strInt(str: String): Int =
    try str.toInt
    catch {
      case e: NumberFormatException =>
        throw new IllegalStateException(
          s"""strconv.Atoi: parsing "$str": invalid syntax""", e)
    }

  /** The `main()` startup sequence (`cmd/convertor/main.go:22-40`):
    * read the four service variables, enforce credential presence,
    * parse the counts. Any gap panics before a pipeline starts. */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    val poller = checkEnv("Poller", env)
    val worker = checkEnv("Worker", env)
    val sqs = checkEnv("AWS_SQS", env)
    val s3 = checkEnv("AWS_S3", env)
    // credentials: presence-checked, values unused (main.go:27-29)
    Seq("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY", "AWS_DEFAULT_REGION")
      .foreach(checkEnv(_, env))
    GraftConfig(strInt(poller), strInt(worker), sqs, s3)
  }
}
