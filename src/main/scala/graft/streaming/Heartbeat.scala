package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** S6: ops heartbeat — the reference writes a wall-clock liveness file on
  * every consumed message (consumer.py:40-47) and the dashboard calls the
  * pipeline ONLINE while the heartbeat is younger than 120 s
  * (main.py:63-84). Here the signal comes from the engine's own
  * StreamingQueryListener progress events instead of hand-rolled writes. */
object Heartbeat {

  /** SLO from main.py:74-79: heartbeat age < 120 s ⇒ ONLINE. */
  val SlaSeconds = 120L

  def write(path: String, epochSec: Long): Unit =
    Files.write(Paths.get(path), epochSec.toString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  /** Where [[attach]] keeps the last progress report of a stamp at `path`. */
  def progressPath(path: String): String = path + ".progress.json"

  /** Replaces `path` with `bytes` atomically: a temp file beside it, then a
    * rename over it, so a reader sees the old report or the new one,
    * never a partial one. */
  private def replace(path: String, bytes: Array[Byte]): Unit = {
    val target = Paths.get(path).toAbsolutePath
    val tmp = Files.createTempFile(target.getParent, target.getFileName.toString, ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    ()
  }

  /** Attach a listener that stamps `path` on every micro-batch progress and
    * writes that batch's `StreamingQueryProgress` JSON (phase durations,
    * rows/s, state size, watermark) to [[progressPath]]. */
  def attach(spark: SparkSession, path: String): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        write(path, System.currentTimeMillis() / 1000)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        write(path, System.currentTimeMillis() / 1000)
        replace(progressPath(path), e.progress.json.getBytes(StandardCharsets.UTF_8))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    l
  }

  /** ONLINE / OFFLINE per the reference's age threshold (main.py:74-79). */
  def status(path: String, nowSec: Long): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) "OFFLINE"
    else {
      val beat = new String(Files.readAllBytes(p)).trim.toLong
      if (nowSec - beat < SlaSeconds) "ONLINE" else "OFFLINE"
    }
  }
}
