package org.apache.hadoop.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration

/** Eviction from `FileSystem.CACHE`, whose `remove` is package-private:
  * `graft.io.LocalFs.install` drops a cached default `file:` filesystem
  * without closing it (a close would also run its delete-on-exit paths). */
object GraftFsCache {
  def evict(uri: URI, conf: Configuration, fs: FileSystem): Unit =
    FileSystem.CACHE.remove(new FileSystem.Cache.Key(uri, conf), fs)
}
