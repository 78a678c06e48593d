package mtp.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/** Checksummed {@code file:} FileSystem over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
