package p3_osm_transformer_spark.jvm;

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
 * Hadoop's checksummed local filesystem, with permissions set through
 * java.nio.  Without Hadoop's native library, RawLocalFileSystem forks a
 * {@code chmod} process for every directory it creates and for every file
 * (and checksum file) it creates with a permission: a Spark write of n part
 * files forks about 3n + 7 of them from the driver JVM.  Here none is
 * forked.  The sticky, setuid and setgid bits are not set (Hadoop does not
 * ask for them on a local path).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose {@code setPermission} is one java.nio call. */
  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission lists owner read first; mode bit 8 is owner read
    private static final PosixFilePermission[] BY_BIT = {
        PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
        PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
        PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
        PosixFilePermission.OWNER_READ};

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int bit = 0; bit < BY_BIT.length; bit++) {
        if ((mode & (1 << bit)) != 0) {
          perms.add(BY_BIT[bit]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
