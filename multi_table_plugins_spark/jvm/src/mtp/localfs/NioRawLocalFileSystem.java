package mtp.localfs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** RawLocalFileSystem that sets mode bits and reads link targets
 *  in-process instead of forking {@code chmod} and {@code readlink} when
 *  libhadoop is not loaded. */
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

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  /** Hadoop's (non-{@code stat}) link status, with the target read by
   *  {@link #readLink} instead of {@code FileUtil.readLink}. */
  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(new File(f.toString()));
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
          fs.getOwner(), fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (!target.isEmpty()) {  // dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      throw e;
    }
  }

  /** What {@code readlink f} prints, trimmed; "" when f is not a link. */
  private static String readLink(File f) {
    try {
      return Files.readSymbolicLink(f.toPath()).toString().trim();
    } catch (IOException | InvalidPathException | UnsupportedOperationException e) {
      return "";
    }
  }
}
