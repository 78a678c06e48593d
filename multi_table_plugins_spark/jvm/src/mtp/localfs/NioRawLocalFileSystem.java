package mtp.localfs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** RawLocalFileSystem whose setPermission sets the mode bits in-process
 *  instead of forking {@code chmod} when libhadoop is not loaded. */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if ((mode & ~0777) != 0) {  // sticky bit: NIO cannot set it
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < 9; i++) {
      if ((mode & (0400 >> i)) != 0) perms.add(BITS[i]);
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }
}
