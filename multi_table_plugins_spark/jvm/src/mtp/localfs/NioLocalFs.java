package mtp.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/** Checksummed {@code file:} AbstractFileSystem (the FileContext API) over
 *  {@link NioRawLocalFileSystem}; {@code Raw} mirrors Hadoop's RawLocalFs. */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(uri, conf));
  }

  static class Raw extends DelegateToFileSystem {
    Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NioRawLocalFileSystem(), conf, "file", false);
    }

    @Override public int getUriDefaultPort() { return -1; }
    @Override public boolean isValidName(String src) { return true; }
    @Override public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }
    @Deprecated @Override public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }
  }
}
