package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming runtime for uDLang kernels.
  *
  * The reference's lifecycle — read → exec → present per record, stateless
  * kernel, 0..n ordered outputs (manual.md:26-41) — is exactly a streaming
  * flatMap: a compiled script's `run` and `runEither`
  * (`graft.lang.UdScript`) take a batch DataFrame or a streaming one
  * unchanged. Statelessness makes every kernel trivially correct under
  * micro-batch retries (idempotent per record, no cross-record state).
  *
  * Beyond parity, the planned `udmonad` stateful driver (README.md:61) maps
  * to transformWithState; `statefulCountTws` below is the canonical shape
  * (a running aggregate). At scale: state is partitioned by key across
  * executors, checkpointed incrementally via the state store — design
  * points the single-process reference defers entirely.
  */
object StreamKernel {

  /** udmonad shape 1 on the Spark 4 transformWithState API: a per-key
    * running aggregate, (key, runningCount, runningSum) emitted on every
    * update, as a StatefulProcessor with a typed ValueState handle. The
    * operator adds composable state variables, timers, and TTL on the
    * RocksDB state store — the shape a long-running production udmonad
    * driver would use. */
  private final class RunningCountProcessor[K]
      extends StatefulProcessor[K, (K, Double), (K, Long, Double)] {
    @transient private var state: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("countSum",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)
    override def handleInputRows(key: K, rows: Iterator[(K, Double)],
        timerValues: TimerValues): Iterator[(K, Long, Double)] = {
      var (c, sum) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { r => c += 1; sum += r._2 }
      state.update((c, sum))
      Iterator((key, c, sum))
    }
  }

  /** The running aggregate via transformWithState (requires the RocksDB
    * state store provider when run over a stream). */
  def statefulCountTws[K: Encoder](
      ds: Dataset[(K, Double)])(implicit
      e: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] =
    ds.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor[K],
        TimeMode.None(), OutputMode.Append())
}
