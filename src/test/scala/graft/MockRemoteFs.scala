package graft

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem

/** A Hadoop FileSystem serving the custom scheme `mockfs://` by delegating
  * to the local filesystem. Registered via `fs.mockfs.impl` in
  * ChessPipelineSpec so OpeningsSource's remote-scheme path — the shape the
  * reference uses for its hf:// dataset glob — is EXECUTED through a
  * non-`file:` scheme, not just documented: scheme resolution, recursive
  * listing, glob filtering, and parquet footer reads all go through this
  * FileSystem instance. PgnStreamingSpec uses it as an object store: the
  * scheme is outside StreamingPublish's atomic-rename set, so publishes to
  * it take the marker path, and a forced rename mode is refused. (Hadoop
  * instantiates it reflectively, so it must be a top-level class with a
  * no-arg constructor.)
  */
class MockRemoteFs extends RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: URI = URI.create("mockfs:///")
}
