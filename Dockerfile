# Deployment packaging for the graft engine — the analog of the
# reference's container entrypoint (/root/reference/Dockerfile:1-14,
# `ENTRYPOINT python main.py`), rebuilt for a Spark cluster: stage 1
# compiles the jar, stage 2 layers it onto the stock Apache Spark
# runtime image, and the entrypoint is spark-submit on
# graft.pipeline.GraftMain (same --users/--accounts/--meetings/--all
# flag surface as the reference CLI).
#
# Build:  docker build -t graft .
# Run:    docker run graft --users --meetings \
#           --warehouse s3a://bucket/zoom \
#           --client-class com.example.ZoomHttpClient
# Cluster mode: override the entrypoint's master, e.g.
#   docker run graft --conf spark.master=k8s://https://... ...
# Tuning for a real run (executors, memory, shuffle partitions) belongs
# in --conf flags / the cluster's spark-defaults, not baked in here —
# GraftMain only pins the graft extensions and AQE.

FROM sbtscala/scala-sbt:eclipse-temurin-17.0.4_1.7.1_2.13.8 AS build
WORKDIR /build
COPY build.sbt .
COPY project project
COPY src src
RUN sbt -batch package

FROM apache/spark:4.1.2-scala2.13-java17-python3-ubuntu
WORKDIR /opt/graft
COPY --from=build /build/target/scala-2.13/*.jar /opt/graft/graft.jar
ENTRYPOINT ["/opt/spark/bin/spark-submit", \
  "--class", "graft.pipeline.GraftMain", \
  "/opt/graft/graft.jar"]
