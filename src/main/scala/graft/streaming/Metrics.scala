package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * Pipeline metrics: a labeled counter/gauge/histogram registry with
 * Prometheus text exposition, fed by a `StreamingQueryListener`.
 *
 * Series names mirror the reference's o11y catalog
 * (reference crates/o11y/src/df_metrics.rs:108-310): the subset a Spark
 * runtime can observe from query progress — per-pipeline event/batch/byte
 * counters, stage/sink latency histograms, source lag, checkpoint marks,
 * DLQ totals, pause/resume lifecycle — with the same
 * `deltaforge_*`-shaped naming (`graft_` prefix) and label keys
 * (pipeline / sink / table / op).
 */
object Metrics {

  type Labels = Seq[(String, String)]

  final class Registry {
    private val counters = TrieMap[(String, Labels), java.util.concurrent.atomic.DoubleAdder]()
    private val gauges = TrieMap[(String, Labels), java.util.concurrent.atomic.AtomicReference[Double]]()
    private val histograms = TrieMap[(String, Labels), HistogramState]()

    final class HistogramState(val buckets: Array[Double]) {
      val counts = new java.util.concurrent.atomic.AtomicLongArray(buckets.length + 1)
      val sum = new java.util.concurrent.atomic.DoubleAdder
      val total = new java.util.concurrent.atomic.LongAdder
      def observe(v: Double): Unit = {
        var i = 0
        while (i < buckets.length && v > buckets(i)) i += 1
        counts.incrementAndGet(i)
        sum.add(v); total.increment()
      }
    }

    private val defaultBuckets = Array(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10, 30, 60)

    def counter(name: String, labels: Labels = Nil): Unit = counterAdd(name, 1.0, labels)
    def counterAdd(name: String, delta: Double, labels: Labels = Nil): Unit =
      counters.getOrElseUpdate((name, labels.sorted), new java.util.concurrent.atomic.DoubleAdder).add(delta)
    def gauge(name: String, value: Double, labels: Labels = Nil): Unit =
      gauges.getOrElseUpdate((name, labels.sorted),
        new java.util.concurrent.atomic.AtomicReference[Double](0.0)).set(value)
    def observe(name: String, value: Double, labels: Labels = Nil): Unit =
      histograms.getOrElseUpdate((name, labels.sorted), new HistogramState(defaultBuckets)).observe(value)

    def counterValue(name: String, labels: Labels = Nil): Double =
      counters.get((name, labels.sorted)).map(_.sum()).getOrElse(0.0)
    def gaugeValue(name: String, labels: Labels = Nil): Option[Double] =
      gauges.get((name, labels.sorted)).map(_.get())

    private def fmtLabels(labels: Labels, extra: Labels = Nil): String = {
      val all = labels ++ extra
      if (all.isEmpty) ""
      else all.map { case (k, v) => s"""$k="${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
        .mkString("{", ",", "}")
    }

    private def fmtNum(d: Double): String =
      if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString

    /** Prometheus text exposition format (the `/metrics` body). */
    def scrape(): String = {
      val sb = new StringBuilder
      counters.toSeq.sortBy(_._1.toString).foreach { case ((n, ls), v) =>
        sb.append(s"$n${fmtLabels(ls)} ${fmtNum(v.sum())}\n")
      }
      gauges.toSeq.sortBy(_._1.toString).foreach { case ((n, ls), v) =>
        sb.append(s"$n${fmtLabels(ls)} ${fmtNum(v.get())}\n")
      }
      histograms.toSeq.sortBy(_._1.toString).foreach { case ((n, ls), h) =>
        var cumulative = 0L
        h.buckets.indices.foreach { i =>
          cumulative += h.counts.get(i)
          sb.append(s"${n}_bucket${fmtLabels(ls, Seq("le" -> h.buckets(i).toString))} $cumulative\n")
        }
        sb.append(s"${n}_bucket${fmtLabels(ls, Seq("le" -> "+Inf"))} ${h.total.sum()}\n")
        sb.append(s"${n}_sum${fmtLabels(ls)} ${fmtNum(h.sum.sum())}\n")
        sb.append(s"${n}_count${fmtLabels(ls)} ${h.total.sum()}\n")
      }
      sb.toString
    }
  }

  /**
   * StreamingQueryListener → registry bridge: each progress event feeds
   * the per-pipeline series (batch counts, rows, duration histograms,
   * source lag from event-time watermark when present).
   */
  class Listener(registry: Registry) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      registry.counter("graft_pipelines_total")
      registry.counter("graft_pipeline_resumes_total", Seq("pipeline" -> nameOf(e.name, e.id.toString)))
    }

    private def nameOf(name: String, id: String): String = Option(name).getOrElse(id)

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val pipeline = Seq("pipeline" -> nameOf(p.name, p.id.toString))
      registry.counter("graft_sink_batch_total", pipeline)
      registry.counterAdd("graft_source_events_total", p.numInputRows.toDouble, pipeline)
      registry.gauge("graft_batch_events", p.numInputRows.toDouble, pipeline)
      registry.gauge("graft_input_rows_per_second", p.inputRowsPerSecond, pipeline)
      Option(p.durationMs.get("triggerExecution")).foreach(ms =>
        registry.observe("graft_stage_latency_seconds", ms.toDouble / 1000.0, pipeline))
      Option(p.durationMs.get("addBatch")).foreach(ms =>
        registry.observe("graft_sink_latency_seconds", ms.toDouble / 1000.0, pipeline))
      // source lag from the event-time watermark (graft_source_lag_seconds)
      Option(p.eventTime).foreach { et =>
        Option(et.get("watermark")).foreach { wm =>
          try {
            val wmMs = java.time.Instant.parse(wm).toEpochMilli
            val nowMs = java.time.Instant.parse(p.timestamp).toEpochMilli
            if (wmMs > 0)
              registry.gauge("graft_source_lag_seconds",
                math.max(0.0, (nowMs - wmMs).toDouble) / 1000.0, pipeline)
          } catch { case _: Exception => }
        }
      }
      registry.gauge("graft_last_checkpoint_ts",
        System.currentTimeMillis().toDouble / 1000.0, pipeline)
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      registry.counter("graft_pipeline_pauses_total")
      e.exception.foreach(_ => registry.counter("graft_source_errors_total"))
    }
  }

  /** Sink-side helpers for code that writes batches directly: an acked
   * write counts its batch and events; a failed one counts an error. Both
   * record the latency. */
  def recordSinkBatch(r: Registry, pipeline: String, sink: String,
                      events: Long, seconds: Double, ok: Boolean): Unit = {
    val labels = Seq("pipeline" -> pipeline, "sink" -> sink)
    r.observe("graft_sink_latency_seconds", seconds, labels)
    if (ok) {
      r.counter("graft_sink_batch_total", labels)
      r.counterAdd("graft_sink_events_total", events.toDouble, labels)
    } else r.counter("graft_sink_errors_total", labels)
  }
}
