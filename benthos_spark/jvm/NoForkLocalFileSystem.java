package benthos.spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem whose permission changes do not
 * fork a process.  Without libhadoop, RawLocalFileSystem.setPermission
 * runs `chmod` for every file and directory it creates; this sets the
 * same nine mode bits through java.nio instead.  Modes with bits outside
 * 0777 (sticky, setuid, setgid) still go through Hadoop.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ (0400) down to OTHERS_EXECUTE (0001), in mode-bit order.
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
