package sparkgraft.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * The checksummed FileContext local file system
 * ({@code fs.AbstractFileSystem.file.impl}) over {@link NioRawLocalFs};
 * streaming checkpoints write through it.
 */
public class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
