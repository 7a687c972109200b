package graft.operators

/** A commit protocol that lets a write commit its files, then fails
  * the job — a process dying right after one leg of a multi-leg
  * artifact landed. Armed for ONE output path via [[CrashAfterCommit.at]]. */
class CrashAfterCommit(jobId: String, path: String, dpo: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dpo) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit = {
    super.commitJob(job, taskCommits)
    if (CrashAfterCommit.at.exists(path.endsWith))
      throw new java.io.IOException(s"injected crash after committing $path")
  }
}
object CrashAfterCommit { @volatile var at: Option[String] = None }
