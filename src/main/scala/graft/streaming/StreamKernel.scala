package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming runtime for uDLang kernels.
  *
  * The reference's lifecycle — read → exec → present per record, stateless
  * kernel, 0..n ordered outputs (manual.md:26-41) — is exactly a streaming
  * flatMap: `Kernel.run` and `Kernel.runEither` take a batch Dataset or a
  * streaming one unchanged. Statelessness makes every kernel trivially
  * correct under micro-batch retries (idempotent per record, no
  * cross-record state).
  *
  * Beyond parity, the planned `udmonad` stateful driver (README.md:61) maps
  * to flatMapGroupsWithState / transformWithState; `statefulCount` and
  * `statefulCountTws` below are the canonical shape (a running aggregate)
  * on each. At scale: state is partitioned by key across executors,
  * checkpointed incrementally via the state store — design points the
  * single-process reference defers entirely.
  */
object StreamKernel {

  /** udmonad shape 1: per-key running aggregate with explicit state.
    * (key, runningCount, runningSum) emitted on every update. */
  def statefulCount[K: Encoder](
      ds: Dataset[(K, Double)])(implicit
      e: Encoder[(K, Long, Double)],
      se: Encoder[(Long, Double)]): Dataset[(K, Long, Double)] = {
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (K, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (c0, s0) = state.getOption.getOrElse((0L, 0.0))
          var c = c0
          var sum = s0
          rows.foreach { r => c += 1; sum += r._2 }
          state.update((c, sum))
          Iterator((key, c, sum))
      }
  }

  /** udmonad shape 1 on the Spark 4 transformWithState API: identical
    * semantics to [[statefulCount]], expressed as a StatefulProcessor with
    * a typed ValueState handle. The newer operator adds composable state
    * variables, timers, and TTL on the RocksDB state store — the shape a
    * long-running production udmonad driver would use; kept as a twin so
    * both stateful APIs stay exercised. */
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

  /** [[statefulCount]] via transformWithState (requires the RocksDB state
    * store provider when run over a stream). */
  def statefulCountTws[K: Encoder](
      ds: Dataset[(K, Double)])(implicit
      e: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] =
    ds.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor[K],
        TimeMode.None(), OutputMode.Append())
}
