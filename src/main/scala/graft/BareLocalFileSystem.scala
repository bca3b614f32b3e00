package graft

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A `file://` filesystem that never shells out — for single-user
  * scratch-dir workloads (tests, local benches, local snapshot stores).
  *
  * Without hadoop's native library, RawLocalFileSystem FORKS a `chmod`
  * process on every file create/mkdir to apply permissions, so the
  * per-file fork tax lands on every parquet task commit — the
  * snapshot-mode crawl writes 32 delta files + 32 frontier files + a
  * manifest per round. Permission bits carry zero information on a
  * single-user scratch dir, so permission maintenance becomes a no-op and
  * every checkpoint / parquet-commit file op stays a pure java.io call.
  *
  * Registered via `spark.hadoop.fs.file.impl` in SparkTestSession,
  * Bench.session and perfbench's session (replacing ChecksumFileSystem — .crc sidecars are also
  * dropped). Cluster deployments against HDFS/S3/Iceberg are untouched:
  * this class only ever binds the `file` scheme. */
class BareLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}
