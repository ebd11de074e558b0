package graft

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem

/** A test-only Hadoop scheme, `graftfs:`: the raw local file system under
  * another name, registered as `fs.graftfs.impl` in the test session. Code
  * that reaches its storage only through the Hadoop FileSystem API works
  * on a `graftfs:///tmp/x` root; code that opens the path with `java.nio`
  * does not.
  */
class GraftFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}
