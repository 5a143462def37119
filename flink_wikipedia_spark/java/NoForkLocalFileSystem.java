package flink_wikipedia_spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's {@link LocalFileSystem} with one change. Without libhadoop,
 * {@link RawLocalFileSystem#setPermission} forks a {@code chmod} process
 * for every file create (data file and {@code .crc}) and every
 * {@code mkdirs} with a mode; this sets the same nine rwx bits through
 * {@code java.nio} instead. Checksums, modes, create and rename are the
 * stock code. Rename replaces an existing file, which Spark's
 * FileSystem-based checkpoint manager needs for
 * {@code createAtomic(p, overwriteIfPossible=true)}; it checks
 * {@code exists(p)} itself otherwise. Hive's ProxyLocalFileSystem, the
 * {@code file:} class of Spark's Hive-enabled distributions, refuses that
 * rename, so an overwriting state-file write there keeps the old bytes and
 * leaves its temp file behind.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** Both the create path and mkOneDirWithMode call this virtually. */
  public static final class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      // native chmod forks nothing; NIO cannot set the sticky bit
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }
  }
}
