package graft.convbench

import org.apache.spark.{ConvBenchBridge, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** the RDD a stage reads its data from: a parquet scan or a local relation */
final case class Source(rddId: Int, partitions: Int)

/** What the Spark listener saw of one stage during one conversion. */
final case class StageStats(id: Int, tasks: Int, runMs: Seq[Long], source: Option[Source],
                            shuffleBytes: Long, shuffleRecords: Long, shuffleWriteNs: Long,
                            fetchWaitMs: Long, spillBytes: Long, cpuNs: Long, gcMs: Long) {
  /** max ÷ median task run time, the stage's straggler factor */
  def skew: Double = {
    val s = runMs.sorted
    if (s.isEmpty) 1.0 else s.last.toDouble / math.max(1L, s(s.length / 2))
  }
}

final case class ConversionTrace(jobs: Int, firstJobMs: Long, stages: Seq[StageStats]) {
  def tasks: Int = stages.map(_.tasks).sum
  private def total(f: StageStats => Long): Long = stages.map(f).sum
  def shuffleBytes: Long = total(_.shuffleBytes)
  def shuffleRecords: Long = total(_.shuffleRecords)
  def shuffleWriteS: Double = total(_.shuffleWriteNs) / 1e9
  def fetchWaitS: Double = total(_.fetchWaitMs) / 1e3
  def spillBytes: Long = total(_.spillBytes)
  def cpuS: Double = total(_.cpuNs) / 1e9
  def gcS: Double = total(_.gcMs) / 1e3

  /** the stage that runs the fused per-document loop: the map stage that
    * reads a source and shuffles its output */
  def fusedStage: Option[StageStats] =
    stages.filter(s => s.source.nonEmpty && s.shuffleBytes > 0).sortBy(-_.runMs.sum).headOption

  /** Passes over the input: tasks run over the fused stage's source RDD ÷
    * its partitions, summed over every stage that reads that RDD. Each such
    * task reads its whole split, so this is input records read ÷ docs. */
  def inputPasses: Double = fusedStage.flatMap(_.source).map { src =>
    stages.filter(_.source.contains(src)).map(_.tasks.toDouble / src.partitions).sum
  }.getOrElse(0.0)

  /** the final stage, the one that writes the output */
  def sinkStage: Option[StageStats] = stages.sortBy(_.id).lastOption
}

/** A `SparkListener` that accumulates task and stage counters between
  * [[begin]] and [[end]]. */
final class Recorder(sc: SparkContext) extends SparkListener {
  private final class Acc {
    var tasks = 0
    val runMs = ArrayBuffer[Long]()
    var shuffleBytes, shuffleRecords, shuffleWriteNs, fetchWaitMs, spill, cpuNs, gcMs = 0L
  }
  private val accs = scala.collection.mutable.HashMap[Int, Acc]()
  private val sources = scala.collection.mutable.HashMap[Int, Source]()
  private var jobs = 0
  private var firstJobMs = -1L

  sc.addSparkListener(this)

  def begin(): Unit = {
    ConvBenchBridge.drainListenerBus(sc)
    synchronized { accs.clear(); sources.clear(); jobs = 0; firstJobMs = -1L }
  }

  def end(): ConversionTrace = {
    ConvBenchBridge.drainListenerBus(sc)
    synchronized {
      ConversionTrace(jobs, firstJobMs, accs.toSeq.sortBy(_._1).map { case (id, a) =>
        StageStats(id, a.tasks, a.runMs.toSeq, sources.get(id), a.shuffleBytes,
          a.shuffleRecords, a.shuffleWriteNs, a.fetchWaitMs, a.spill, a.cpuNs, a.gcMs)
      })
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (firstJobMs < 0) firstJobMs = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    // an RDD without parents inside a stage is the stage's data source
    e.stageInfo.rddInfos.find(_.parentIds.isEmpty).foreach { r =>
      sources(e.stageInfo.stageId) = Source(r.id, r.numPartitions)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.taskInfo.successful && m != null) {
      val a = accs.getOrElseUpdate(e.stageId, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
    }
  }
}

/** Peak heap in use right after a garbage collection, from the JVM's GC
  * notifications, between [[reset]] and [[peakMiB]]. In local mode the
  * driver and the executors share this heap. */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
    }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = peak.set(0L)

  /** The peak since [[reset]], or the heap in use after a full collection
    * now, whichever is larger: a conversion that met no collection still
    * reports the heap it left live. */
  def peakMiB: Double = {
    System.gc()
    math.max(peak.get, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
