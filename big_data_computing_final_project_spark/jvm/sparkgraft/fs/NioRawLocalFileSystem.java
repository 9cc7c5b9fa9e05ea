package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.FileSystems;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local file system, except that it sets a file's permission
 * bits through java.nio. Without libhadoop, RawLocalFileSystem forks a
 * {@code chmod} process for every file and directory a write creates.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final boolean POSIX =
      FileSystems.getDefault().supportedFileAttributeViews().contains("posix");

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    // the sticky bit, or a store without POSIX modes: Hadoop's own way
    if (!POSIX || (mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    // PosixFilePermission lists the nine bits from owner read (0400) down
    Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission b : PosixFilePermission.values()) {
      if ((mode & (0400 >> b.ordinal())) != 0) {
        bits.add(b);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
  }
}
