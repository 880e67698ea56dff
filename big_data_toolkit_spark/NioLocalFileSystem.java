package bdts;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, setting permissions in-process.
 * Without Hadoop's native library, RawLocalFileSystem.setPermission forks
 * one chmod per file and directory it creates; this sets the same mode bits
 * through java.nio. NIO cannot set the sticky bit, so such a permission
 * still goes to chmod. Compiled and put on the driver's class path by
 * big_data_toolkit_spark/session.py.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      // "rwxr-xr-x": the mode chmod would be given, written symbolically.
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }
  }
}
