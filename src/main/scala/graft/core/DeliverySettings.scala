package graft.core

/** Retry policy for partially failed delivery batches — exponential backoff
  * from `baseDelayMs`, at most `maxRetries` attempts after the first
  * (defaults mirror the reference: exp backoff 500 ms ∧ ≤6 retries,
  * reference `ProducerSettings.scala:82`).
  */
final case class RetryPolicy(baseDelayMs: Long = 500L, maxRetries: Int = 6) {
  require(baseDelayMs >= 0, "baseDelayMs must be >= 0")
  require(maxRetries >= 0, "maxRetries must be >= 0")

  /** Delay before retry attempt n (1-based), capped at 30 s. The base is
    * capped before the shift, so a large base cannot wrap negative. */
  def delayMs(attempt: Int): Long =
    math.min(math.min(baseDelayMs, RetryPolicy.MaxDelayMs) << math.min(attempt - 1, 20),
      RetryPolicy.MaxDelayMs)
}

object RetryPolicy {
  val MaxDelayMs = 30000L
}

/** Producer settings for the delivery pipeline — the engine's mirror of the
  * reference's `ProducerSettings` (reference `ProducerSettings.scala:25-43`):
  * stream name, record separator, batch size (hard-capped at 500 as in
  * `ProducerSettings.scala:61`; a request also closes at
  * [[DeliverySettings.MaxRequestBytes]]), sink parallelism, flush window, and an
  * optional retry policy. Defaults match `ProducerSettings.scala:79-82`
  * (batch 500, parallelism 1, window 5 s, retry on).
  */
final case class DeliverySettings(
    streamName: String,
    separator: Array[Byte] = Array('\n'.toByte),
    batchSize: Int = DeliverySettings.MaxBatchSize,
    parallelism: Int = 1,
    triggerIntervalMs: Long = 5000L,
    retryPolicy: Option[RetryPolicy] = Some(RetryPolicy())) {
  require(batchSize > 0 && batchSize <= DeliverySettings.MaxBatchSize,
    s"batchSize must be in (0, ${DeliverySettings.MaxBatchSize}]")
  require(parallelism > 0, "parallelism must be > 0")

  def withBatchSize(n: Int): DeliverySettings = copy(batchSize = n)
  def withSeparator(sep: Array[Byte]): DeliverySettings = copy(separator = sep)
  def withParallelism(n: Int): DeliverySettings = copy(parallelism = n)
  def withTriggerIntervalMs(ms: Long): DeliverySettings = copy(triggerIntervalMs = ms)
  def withRetryPolicy(p: Option[RetryPolicy]): DeliverySettings = copy(retryPolicy = p)
}

object DeliverySettings {
  /** Firehose `PutRecordBatch` hard cap (reference `ProducerSettings.scala:61`). */
  val MaxBatchSize = 500

  /** `PutRecordBatch` byte cap for a whole request (sum of record sizes). */
  val MaxRequestBytes: Long = 4L * 1024 * 1024

  /** `PutRecordBatch` byte cap for one record; a larger record is never sent. */
  val MaxRecordBytes: Int = 1000 * 1024
}
