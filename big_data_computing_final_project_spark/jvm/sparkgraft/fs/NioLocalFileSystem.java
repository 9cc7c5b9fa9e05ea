package sparkgraft.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local file system ({@code fs.file.impl}) over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
