package graft.sources

import org.apache.spark.sql.SparkSession

/** Object-store backends (S9 S3, S10 Swift) — the reference's
  * boto3/swiftclient streaming readers and multipart writers
  * (/root/reference/src/ralph/backends/data/s3.py:114-414, swift.py) map
  * onto Spark's Hadoop filesystem connectors: only the FileSystem
  * configuration differs from the FS path. This object is that
  * configuration, kept as code (not just a doc note) so a cluster
  * deployment is a one-call setup. Reads then go through `Graft.read` on
  * the object-store URI (`s3a://bucket/prefix` glob,
  * `swift://container.service/prefix`), the same `FsJsonl.read` as a
  * local directory.
  *
  * Sandbox caveat: this container is zero-egress and ships no
  * hadoop-aws/hadoop-openstack jars, so these paths cannot be
  * integration-tested here; the conf keys are the stable, documented
  * Hadoop contract (verified against the Hadoop 3.x docs shipped with
  * Spark 4). SourcesSpec asserts the configuration lands in the
  * session's hadoopConfiguration.
  */
object ObjectStore {

  /** Configure the s3a connector (S9). Mirrors the reference's endpoint /
    * access-key / secret settings (s3.py:64-86). */
  def configureS3a(spark: SparkSession, endpoint: String,
                   accessKey: String, secretKey: String,
                   pathStyleAccess: Boolean = true): Unit = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.s3a.endpoint", endpoint)
    c.set("fs.s3a.access.key", accessKey)
    c.set("fs.s3a.secret.key", secretKey)
    c.set("fs.s3a.path.style.access", pathStyleAccess.toString)
    c.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    // multipart upload ≈ the reference's MPU write path (s3.py:300-414)
    c.set("fs.s3a.multipart.size", "67108864")
  }

  /** Configure the OpenStack Swift connector (S10; swift.py auth options). */
  def configureSwift(spark: SparkSession, service: String, authUrl: String,
                     username: String, password: String, tenant: String): Unit = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set(s"fs.swift.service.$service.auth.url", authUrl)
    c.set(s"fs.swift.service.$service.username", username)
    c.set(s"fs.swift.service.$service.password", password)
    c.set(s"fs.swift.service.$service.tenant", tenant)
    c.set("fs.swift.impl", "org.apache.hadoop.fs.swift.snative.SwiftNativeFileSystem")
  }
}
